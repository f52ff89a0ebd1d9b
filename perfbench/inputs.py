"""Seeded workload inputs and their independent references.

Every input is a pure function of (workload, seed). Inputs are written
once per seed under the work directory and reused by later runs with the
same seed; generation is never part of a timed region or of setup.

References are computed in this process from the generated rows, not by
the Spark job under test:
- extraction: ``extract_document`` on a url-hash sample (the traced run
  extends the check to every url);
- curation: a pure-Python twin of quality gate -> MinHash/LSH -> exact
  Jaccard verify -> connected components, giving the exact kept set.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_pipeline_spark.kernels.extract import extract_document
from ocr_pipeline_spark.operators.dedup import MINHASH_P, minhash_perm_constants
from ocr_pipeline_spark.operators.textstats import STOPWORDS_EN
from ocr_pipeline_spark.sources.synth_pages import synth_pages

# Input sizes. Large enough that per-document work is about half of an
# extraction call (the job's fixed cost is 2.6-2.8 s on a warmed JVM with
# 4 vCPUs), small enough that a run with its set-up fits its budget (see
# NOTES.md).
WEB_PAGES = 10000
CURATE_BASE_DOCS = 5000
CURATE_REPLICAS = 4
N_FILES = 8            # input parquet files: scan parallelism independent of nproc
WARM_SHARE = 32        # the traced run's restart warms up on the first 1/32 of the rows
N_BUCKETS = 64         # run_extraction's default bucket count

# 1 url in SAMPLE_MOD is checked against the in-process kernel on every
# timed call (deterministic in the url, so every commit checks the same ones)
SAMPLE_MOD = 16


def in_sample(url: str) -> bool:
    return int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % SAMPLE_MOD == 0


# --------------------------------------------------------------- pages


def web_pages(n: int, seed: int) -> list[tuple[str, bytes]]:
    """The default ``sources.synth_pages`` mix."""
    pdf = synth_pages(n, seed=seed)
    return list(zip(pdf["url"], pdf["html"]))


def write_pages(rows: list[tuple[str, bytes]], path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(rows) / n_files)
    for f in range(n_files):
        chunk = rows[f * per:(f + 1) * per]
        table = pa.table(
            {
                "url": pa.array([u for u, _ in chunk], pa.string()),
                "html": pa.array([h for _, h in chunk], pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def extraction_reference(rows) -> dict[str, tuple[str, str | None]]:
    """url -> (text_sha256, error) from the in-process fused kernel, for
    the sampled urls."""
    out = {}
    for url, payload in rows:
        if in_sample(url):
            r = extract_document(payload)
            out[url] = (r.text_sha256, r.error)
    return out


# ----------------------------------------------------------- documents

# The curation corpus follows the sf0.1 ``documents.parquet`` of the
# project's test data, as measured there: 5000 docs of lowercase ASCII
# words joined by single spaces, 10-99 words each drawn uniformly from 30
# content words and the stopwords "the" and "a" (6.6% of tokens); 5% of
# docs (250) are a copy of another doc with " dup" appended (3-shingle
# Jaccard about 0.98); lang 41% en, the rest zh/es/fr/de; sources src0-19.
# On that corpus ``curate_reference`` keeps 4245 docs, as the job does.
_DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the a"
).split()
_DOC_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
DUP_SHARE = 0.05


def curate_docs(n_base: int, seed: int) -> list[tuple[int, str, str, str]]:
    """``n_base`` documents fitted to the test corpus (see above), each
    replicated ``CURATE_REPLICAS`` times under fresh random doc_ids.
    Rows are (doc_id, text, lang, source)."""
    rng = random.Random(seed)
    n_dup = round(DUP_SHARE * n_base)
    originals = [" ".join(rng.choice(_DOC_VOCAB) for _ in range(rng.randint(10, 99)))
                 for _ in range(n_base - n_dup)]
    base = originals + [rng.choice(originals) + " dup" for _ in range(n_dup)]
    rng.shuffle(base)
    meta = [(rng.choice(_DOC_LANGS), f"src{rng.randrange(20)}") for _ in base]
    rows = [(t, *m) for t, m in zip(base, meta) for _ in range(CURATE_REPLICAS)]
    ids = rng.sample(range(1, 1 << 62), len(rows))
    return sorted((i, *r) for i, r in zip(ids, rows))


def write_docs(docs: list[tuple[int, str, str, str]], path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(docs) / n_files)
    for f in range(n_files):
        chunk = docs[f * per:(f + 1) * per]
        table = pa.table(
            {
                "doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                "text": pa.array([d[1] for d in chunk], pa.string()),
                "lang": pa.array([d[2] for d in chunk], pa.string()),
                "source": pa.array([d[3] for d in chunk], pa.string()),
                "n_chars": pa.array([len(d[1]) for d in chunk], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def _norm(text: str) -> str:
    # textstats.norm_text (lowercase, whitespace runs to one space, trim);
    # the two agree on ASCII text, which is all the corpus holds
    return " ".join(text.lower().split())


def _is_quality(text: str) -> bool:
    # textstats.annotate_quality over textstats.tokens
    norm = _norm(text)
    toks = norm.split(" ")
    n_tok = len(toks)
    word_chars = len(norm) - (n_tok - 1)
    stop = set(STOPWORDS_EN)
    hits = sum(t in stop for t in toks)
    return 5 <= n_tok <= 100000 and 2 * n_tok <= word_chars <= 12 * n_tok and 50 * hits >= n_tok


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = _norm(text).split(" ")
    if len(toks) < n:
        return {_norm(text)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def curate_reference(docs: list[tuple], threshold: float = 0.8,
                     bands: int = 4, rows_per_band: int = 2) -> dict:
    """Kept doc_id set of ``run_curation(dedup="minhash", langs=None)``
    plus the candidate/verified pair counts, recomputed in Python."""
    consts = minhash_perm_constants(bands * rows_per_band)
    kept = [(d, t) for d, t, *_ in docs if _is_quality(t)]
    sh = {d: _shingles(t) for d, t in kept}
    hashes: dict[str, int] = {}
    band_keys: dict[str, list[str]] = {}  # replicas share their text's keys
    buckets: dict[tuple[int, str], list[int]] = {}
    for d, t in kept:
        if t not in band_keys:
            hs = [hashes.setdefault(g, int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % MINHASH_P)
                  for g in sh[d]]
            sig = [min((a * h + b) % MINHASH_P for h in hs) for a, b in consts]
            band_keys[t] = [
                hashlib.md5("|".join(str(x) for x in sig[b * rows_per_band:(b + 1) * rows_per_band])
                            .encode()).hexdigest()
                for b in range(bands)
            ]
        for b, key in enumerate(band_keys[t]):
            buckets.setdefault((b, key), []).append(d)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cand.add((a, b))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    verified = 0
    thr = Decimal(str(threshold))
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        j = Decimal(inter / union).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        if j >= thr:
            verified += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    kept_ids = sorted(d for d, _ in kept if find(d) == d)
    return {"kept": kept_ids, "candidates": len(cand), "verified": verified}


# ----------------------------------------------------------- the cache


def prepare(workload: str, seed: int, work: str) -> dict:
    """Write (or reuse) the inputs for (workload, seed). Returns the
    input descriptor: paths (the input and the set-up's warm-up slice),
    doc count, payload MB and references."""
    if workload == "curate_minhash":
        kind = f"docs{CURATE_BASE_DOCS}x{CURATE_REPLICAS}"
    else:
        kind = f"web{WEB_PAGES}"
    base = os.path.join(work, "inputs", f"{kind}-{seed}")
    meta_path = os.path.join(base, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(base, ignore_errors=True)
    data, warm = os.path.join(base, "data"), os.path.join(base, "warm")
    if workload == "curate_minhash":
        docs = curate_docs(CURATE_BASE_DOCS, seed)
        write_docs(docs, data)
        write_docs(docs[:len(docs) // WARM_SHARE], warm, n_files=1)
        meta = {
            "n_docs": len(docs),
            "mb": sum(len(d[1].encode()) for d in docs) / 1e6,
            "reference": curate_reference(docs),
        }
    else:
        rows = web_pages(WEB_PAGES, seed)
        write_pages(rows, data)
        write_pages(rows[:len(rows) // WARM_SHARE], warm, n_files=1)
        meta = {
            "n_docs": len(rows),
            "mb": sum(len(h) for _, h in rows) / 1e6,
            "reference": extraction_reference(rows),
        }
    meta["data"], meta["warm"] = data, warm
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def read_pages(path: str) -> list[tuple[str, bytes]]:
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
