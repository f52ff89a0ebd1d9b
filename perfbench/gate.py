"""Correctness gate run after every timed job call.

Reads the committed output with pyarrow, not Spark, so the check does
not share code with the job it checks. Each function returns a list of
failure messages; an empty list means the call passed.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq


def _fold(shas: list[str]) -> str:
    # lineage._xor_fold_sha: xor of the first 15 hex digits, 16-digit upper hex
    acc = 0
    for s in shas:
        acc ^= int(s[:15], 16)
    return format(acc, "016X")


def check_extraction(out_path: str, manifest_path: str, expected_urls: set[str],
                     reference: dict[str, tuple[str, str | None]]) -> tuple[list[str], dict]:
    """Output rows vs. input urls, text vs. its own sha256, sampled shas
    and errors vs. the in-process kernel, and manifest reconciliation
    (row counts sum to the docs; each bucket's bytes_hash re-folds)."""
    fails: list[str] = []
    out = pq.read_table(out_path, columns=["url", "text", "text_sha256", "error", "bucket"]).to_pydict()
    urls = out["url"]
    if len(urls) != len(expected_urls) or set(urls) != expected_urls:
        fails.append(f"output has {len(urls)} rows / {len(set(urls))} urls, "
                     f"input has {len(expected_urls)}")
    by_bucket: dict[int, list[str]] = {}
    checked = mismatched = errors = 0
    for url, text, sha, err, bucket in zip(urls, out["text"], out["text_sha256"],
                                           out["error"], out["bucket"]):
        by_bucket.setdefault(int(bucket), []).append(sha)
        errors += err is not None
        own = hashlib.sha256((text or "").encode("utf-8")).hexdigest()
        ref = reference.get(url)
        if ref is not None:
            checked += 1
            if (sha, err) != tuple(ref) or own != sha:
                mismatched += 1
        elif own != sha:
            mismatched += 1
            checked += 1
    if mismatched:
        fails.append(f"{mismatched} of {checked} checked urls differ from the kernel")
    if len(reference) and checked < len(reference):
        fails.append(f"only {checked} of {len(reference)} reference urls in the output")

    man = pq.read_table(manifest_path, columns=["bucket", "row_count", "bytes_hash"]).to_pydict()
    rows_total = sum(man["row_count"])
    if rows_total != len(expected_urls):
        fails.append(f"manifest row_count sums to {rows_total}, expected {len(expected_urls)}")
    seen: dict[int, int] = {}
    for b, n, h in zip(man["bucket"], man["row_count"], man["bytes_hash"]):
        seen[b] = seen.get(b, 0) + 1
        shas = by_bucket.get(b, [])
        if n != len(shas) or h != _fold(shas):
            fails.append(f"bucket {b}: manifest ({n}, {h}) != output ({len(shas)}, {_fold(shas)})")
    if set(seen) != set(by_bucket) or any(c != 1 for c in seen.values()):
        fails.append("manifest buckets do not match the output buckets one to one")
    stats = {
        "checked_urls": checked,
        "sha_mismatch_frac": mismatched / checked if checked else 0.0,
        "error_doc_frac": errors / len(urls) if urls else 0.0,
    }
    return fails, stats


def check_curation(out_path: str, expected_kept: list[int]) -> tuple[list[str], dict]:
    """The kept doc_id set must equal the Python reference exactly."""
    got = pq.read_table(out_path, columns=["doc_id"]).column("doc_id").to_pylist()
    fails = []
    if len(got) != len(set(got)):
        fails.append(f"{len(got) - len(set(got))} duplicate doc_ids in the kept corpus")
    missing = set(expected_kept) - set(got)
    extra = set(got) - set(expected_kept)
    if missing or extra:
        fails.append(f"kept set differs: {len(missing)} missing, {len(extra)} extra")
    return fails, {"docs_kept": len(set(got))}
