"""Corpus-trained unigram language-model surprisal scoring — the
CCNet/KenLM "perplexity filter" stage of a web-scale training-data
pipeline (Wenzek et al., CCNet: score every extracted document with a
language model, then keep the low-perplexity head of the distribution).

Reference analogy: the reference pipeline's per-region recognition
confidence (std-recognition/utils.py custom_mean over per-char
softmax scores) is its "how plausible is this text" signal; this module
is the corpus-level equivalent for extracted web text.

The engine-portability trick: no floats, no ln(). Per-token surprisal is
measured in WHOLE BITS via exact integer math that DuckDB and Spark
evaluate identically:

    surprisal(t) = length(bin((N + V) div (cnt(t) + 1)))
                 = floor(log2((N + V) // (cnt(t) + 1))) + 1

where cnt(t) is the token's corpus frequency, N the corpus token count
and V the vocabulary size — i.e. the bit length of the inverse
add-one-smoothed probability. ``bin()`` on a positive BIGINT renders
without leading zeros in both engines (verified), so ``length(bin(x))``
is an exact integer log2 everywhere. The quotient is >= 1 always
(cnt <= N and V >= 1), so bin() never sees 0.

Doc score: ``surprisal_bp = (10000 * sum_bits) div n_toks`` — mean bits
per token in fixed-point basis points. LOW = predictable, fluent text
(the CCNet "head"); HIGH = rare-token soup (boilerplate residue, code,
lists, garbled decodes).

Scale shape (10^12 docs):
- one tokenize pass feeds BOTH the count aggregation and the scoring
  join — the exploded (doc_id, thash) frame is lazily localCheckpointed
  (the classifier/tfidf precedent; without it Catalyst re-tokenizes the
  corpus once per consumer, no logical CSE).
- shuffles carry shorts only: the count groupBy moves (16-hex thash)
  with map-side partial counts; the scoring join moves (doc_id, thash);
  token TEXT never crosses an exchange.
- the (N, V) corpus scalars are a 1-row aggregate crossJoin-broadcast —
  no driver collect, no Python round-trip.
- per-token surprisal is computed once per VOCAB entry (on the counts
  table), not once per token occurrence.
- to score against a pre-trained / truncated LM instead of self-train,
  swap ``counts`` for any (thash, cnt) frame (e.g. top-K by frequency
  from a clean reference corpus) — the join shape is unchanged.

One definition per recipe step: the token hash is
``textstats.token_hash`` (rows: ``textstats.token_hashes``; arrays:
``_hash_arrays``), every bit formula goes through ``_bits``, the unigram
table is ``_unigram_bits``, the bigram pair stream ``_pair_rows`` and the
per-doc score ``_bp``. The ten LM-family DuckDB oracles in
__spark_entry__.py (``lm_*``, ``cur_dsir``, ``qc_vs_lm``,
``sp_curriculum``, ``cur_source_drift``) are built from the same steps'
SQL spellings there: ``_THASHES``, ``_bits_sql``, ``_unigram_sql``,
``_SURPRISAL_SQL``, ``_pairs_sql`` and ``_bp_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_hash, token_hashes, tokens

__all__ = [
    "token_counts",
    "lm_surprisal",
    "head_split",
    "bigram_surprisal",
    "head_split_approx",
    "dsir_weights",
    "stupid_backoff",
    "vocab_coverage",
]

SCALE_BP = 10_000


def _bits(q: Column) -> Column:
    """Whole bits of a BIGINT q >= 1: ``length(bin(q))`` =
    floor(log2(q)) + 1, exact in both engines. Every LM bit formula
    goes through here."""
    return F.length(F.bin(q)).cast("long")


def _add_one_bits(total: str, cnt: str) -> Column:
    """Add-one smoothed bits of ``cnt`` out of ``total`` over the
    ``vocab`` column: _bits((total + vocab) div (cnt + 1))."""
    return _bits(F.expr(f"({total} + vocab) div ({cnt} + 1)"))


def _bp(bits: str) -> Column:
    """Per-doc score: mean ``bits`` per token (``n_toks``) in
    fixed-point basis points."""
    return F.expr(f"({SCALE_BP} * {bits}) div n_toks")


def token_counts(keyed: DataFrame) -> DataFrame:
    """(thash, cnt) corpus unigram counts — the trained LM."""
    return keyed.groupBy("thash").agg(F.count(F.lit(1)).alias("cnt"))


def _corpus_stats(counts: DataFrame) -> DataFrame:
    """The 1-row (n_total, vocab) scalars of a (key, cnt) count table."""
    return counts.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )


def _unigram_bits(counts: DataFrame) -> DataFrame:
    """The add-one unigram LM: ``counts`` plus the broadcast (n_total,
    vocab) scalars and ``bits`` per VOCAB entry (not per occurrence)."""
    return counts.crossJoin(F.broadcast(_corpus_stats(counts))).withColumn(
        "bits", _add_one_bits("n_total", "cnt")
    )


def lm_surprisal(docs: DataFrame) -> DataFrame:
    """Self-train a unigram LM on the corpus and score every document.

    Output: (doc_id, n_toks, sum_bits, surprisal_bp), all bigint.
    """
    keyed = token_hashes(docs, "doc_id", "text").localCheckpoint(eager=False)
    lm = _unigram_bits(token_counts(keyed)).select("thash", "bits")
    return (
        keyed.join(lm, "thash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("bits").alias("sum_bits"),
        )
        .withColumn("surprisal_bp", _bp("sum_bits"))
    )


def head_split(docs: DataFrame, n_splits: int = 3) -> DataFrame:
    """CCNet head/middle/tail split: rank documents by LM surprisal
    (ascending — most fluent first, doc_id tie-break) and deal them
    into ``n_splits`` equal ntiles. split 1 = "head" (keep for
    training), split ``n_splits`` = "tail" (drop or down-weight).

    Output: (doc_id, surprisal_bp, split) — split is bigint 1..n.

    Scale note: the ntile window input is (doc_id, surprisal_bp) —
    16-byte rows, never text — but it is still a single global sort.
    At 10^12 docs swap the exact ntile for threshold assignment from
    the mergeable histogram sketch (operators/sketch.hist_quantiles):
    two scan-local passes, no global window. The exact version here is
    the oracle-checkable spec of the split semantics.
    """
    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1, got {n_splits}")
    w = Window.orderBy(F.asc("surprisal_bp"), F.asc("doc_id"))
    return lm_surprisal(docs).select(
        "doc_id",
        "surprisal_bp",
        F.ntile(n_splits).over(w).cast("long").alias("split"),
    )


def _hash_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, _h token-hash array) — ONE tokenize+hash pass staged as
    a checkpoint boundary; both the counting aggregations and the
    per-doc scoring read the materialized arrays (no logical CSE)."""
    return docs.select(
        "doc_id", F.transform(tokens(F.col("text")), token_hash).alias("_h")
    ).localCheckpoint(eager=False)


def _array_counts(staged: DataFrame) -> DataFrame:
    """(h, cnt) unigram counts of the staged hash arrays."""
    return (
        staged.select(F.explode_outer("_h").alias("h"))
        .filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _pair_rows(staged: DataFrame) -> DataFrame:
    """(doc_id, a, b) per adjacent token-hash pair of the staged arrays.

    Adjacent pairs via arrays_zip over the materialized hash array — a
    lambda-free built-in that stays inside whole-stage codegen, unlike
    the equivalent zip_with(.., (x,y) -> struct(..)) which is
    CodegenFallback and pays an interpreted pass per execution
    (measured at sf0.1: 7.3 -> 6.7 s first-execution, 1.3 -> 1.0 s
    steady-state). _h is a checkpoint read, so the three references
    (two slices + size) are cheap re-reads, not recomputation."""
    n = F.greatest(F.size("_h") - 1, F.lit(0))
    pairs_of = F.arrays_zip(
        F.slice(F.col("_h"), 1, n).alias("a"),
        F.slice(F.col("_h"), 2, n).alias("b"),
    )
    return (
        staged.select("doc_id", F.explode_outer(pairs_of).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("doc_id", "p.a", "p.b")
    )


def _first_tokens(staged: DataFrame) -> DataFrame:
    """(doc_id, h, n_toks): each doc's first token hash and length."""
    return staged.select(
        "doc_id",
        F.element_at("_h", 1).alias("h"),
        F.size("_h").cast("long").alias("n_toks"),
    )


def _positional_scores(
    first_bits: DataFrame, pair_bits: DataFrame, *extra: Column
) -> DataFrame:
    """(doc_id, n_toks, sum_bits, *extra, surprisal_bp): a doc's
    first-token bits ``fb`` plus its pair bits ``pb`` (none for a
    one-token doc)."""
    return (
        first_bits.join(pair_bits, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            (F.col("fb") + F.coalesce(F.col("pb"), F.lit(0))).alias(
                "sum_bits"
            ),
            *extra,
        )
        .withColumn("surprisal_bp", _bp("sum_bits"))
    )


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Bigram-LM surprisal — the context-aware upgrade of
    ``lm_surprisal`` (a token is cheap when its PREDECESSOR predicts
    it, not merely when it is corpus-frequent; "york" after "new"
    scores ~1 bit even if "york" is rare overall).

    Per-position bits, exact integer math (bin()-length floor-log2):

        first token:   u(t1)    = len(bin((N + V)   div (cnt(t1) + 1)))
        position i>1:  g(b | a) = len(bin((c_a + V) div (c_ab + 1)))

    i.e. add-one-smoothed unigram start + add-one-smoothed CONDITIONAL
    bigram continuation. Doc score: surprisal_bp = (10000 · Σbits) div
    n_toks. Both engines evaluate identically (the lm.py recipe).

    Scale shape: the staged hash arrays feed three consumers (unigram
    counts, bigram counts, per-doc scoring) off one checkpoint; bits
    are computed per VOCAB/BIGRAM-TABLE entry, not per occurrence; all
    joins/groupBys move 16-hex hashes and bigint counts. Output:
    (doc_id, n_toks, sum_bits, surprisal_bp), all bigint.
    """
    staged = _hash_arrays(docs)
    u_bits = _unigram_bits(_array_counts(staged))
    # the per-position pair stream feeds BOTH the bigram counts and the
    # per-doc scoring join — materialize the explode once (measured 6.2
    # -> 1.3 s steady-state at sf0.1 when this was first staged)
    pair_rows = _pair_rows(staged).localCheckpoint(eager=False)
    bg = pair_rows.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    # conditional bits per distinct bigram: join the predecessor's
    # unigram count (c_a) + vocab, both already on the u_bits table
    g_bits = bg.join(
        u_bits.select(F.col("h").alias("a"), F.col("cnt").alias("c_a"), "vocab"),
        "a",
    ).select("a", "b", _add_one_bits("c_a", "c_ab").alias("bits"))
    first_bits = (
        _first_tokens(staged)
        .join(u_bits.select("h", "bits"), "h")
        .select("doc_id", "n_toks", F.col("bits").alias("fb"))
    )
    pair_bits = (
        pair_rows.join(g_bits, ["a", "b"])
        .groupBy("doc_id")
        .agg(F.sum("bits").alias("pb"))
    )
    return _positional_scores(first_bits, pair_bits)


def head_split_approx(docs: DataFrame, n_splits: int = 3) -> DataFrame:
    """The SCALE form of ``head_split``: threshold assignment from the
    mergeable fixed-bin histogram sketch (operators/sketch.
    hist_quantiles) instead of a global ntile sort — two scan-local
    passes over (doc_id, surprisal_bp) pairs plus a ≤64-cell
    aggregate; no global window, so it survives 10^12 docs where the
    exact ntile cannot (head_split's own docstring promises this path;
    this is it).

    Assignment is BIN-exact and engine-portable: split(v) = 1 + number
    of quantile-threshold BINS strictly below v's bin, where the
    thresholds are the histogram's p = k/n_splits cut bins. Ties inside
    a threshold bin all land in the lower split (deterministic;
    boundary error ≤ one bin width by the hist_quantiles contract —
    split POPULATIONS are approximately equal, unlike ntile's exact
    deal).

    Output: (doc_id, surprisal_bp, split) — split bigint 1..n_splits.
    """
    from .sketch import hist_quantiles

    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1, got {n_splits}")
    scored = lm_surprisal(docs).localCheckpoint(eager=False)
    ps = tuple(
        (k * SCALE_BP) // n_splits for k in range(1, n_splits)
    )
    hist = hist_quantiles(
        scored.withColumn("_g", F.lit(1)),
        "_g",
        "surprisal_bp",
        ps_bp=ps,
    )
    # threshold bins: b_p = (est_p - lo) div w, exact by construction
    thr_cols = [
        # hist_quantiles sanitizes the percentage into the column name
        # (est_p33_33) — reproduce its naming rule
        F.expr(
            "(`"
            + f"est_p{p / 100:g}".replace(".", "_")
            + "` - lo_value) div bin_width"
        ).alias(f"_b{k}")
        for k, p in enumerate(ps)
    ]
    thresholds = hist.select(
        F.col("lo_value").alias("_lo"),
        F.col("bin_width").alias("_w"),
        *thr_cols,
    )
    out = scored.crossJoin(F.broadcast(thresholds))
    split_expr = F.lit(1)
    for k in range(len(ps)):
        split_expr = split_expr + (
            F.expr("(surprisal_bp - _lo) div _w") > F.col(f"_b{k}")
        ).cast("long")
    return out.select(
        "doc_id", "surprisal_bp", split_expr.cast("long").alias("split")
    )


def dsir_weights(docs: DataFrame, target_pred: Column) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169, "Data Selection for Language Models via
    Importance Resampling"): score every raw document by how much more
    likely its tokens are under a TARGET distribution than under the
    raw corpus. The target is defined in-corpus by ``target_pred``
    (e.g. ``F.col("lang") == "en"`` or a quality flag) — no external
    data.

    The paper's log importance weight is
    ``sum_t log p_target(t) - log p_raw(t)``; this implementation
    measures both logs in WHOLE BITS with the module's exact integer
    device, so the entire weight is engine-exact:

        logw_bits(doc) = sum over token occurrences of
            bits_raw(t) - bits_target(t)
        bits_X(t) = length(bin((N_X + V) div (cnt_X(t) + 1)))

    with V the RAW vocabulary size for both sides (one smoothing
    domain; target counts for unseen tokens are 0 via left join).
    Positive logw => the doc reads more like the target than like the
    raw corpus. Output: (doc_id, n_toks, logw_bits, logw_bp), all
    bigint; ``logw_bp = (10000 * logw_bits) div n_toks`` (both engines
    truncate integer division toward zero, negative-safe — verified).

    The paper resamples via Gumbel top-k; here selection composes with
    the existing machinery instead (classifier.select_top_fraction on
    logw_bp, or head_split_approx for a no-global-sort split) — this
    operator's contract is the weights.

    Scale shape: one tokenize pass (lazily localCheckpointed) feeds the
    raw counts, the target counts (a doc_id semi-join of the SAME
    frame), and the scoring join — shuffles carry (doc_id, 16-hex
    thash) and bigint counts only; token text never crosses an
    exchange; per-token bits are computed once per vocab entry.
    """
    keyed = token_hashes(docs, "doc_id", "text").localCheckpoint(eager=False)
    raw_counts = token_counts(keyed)
    tgt_ids = docs.filter(target_pred).select("doc_id")
    tgt_counts = (
        keyed.join(tgt_ids, "doc_id", "semi")
        .groupBy("thash")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    tstats = tgt_counts.agg(
        F.coalesce(F.sum("cnt_t"), F.lit(0)).cast("long").alias("n_total_t")
    )
    lm = (
        raw_counts.join(tgt_counts, "thash", "left")
        .crossJoin(F.broadcast(_corpus_stats(raw_counts)))
        .crossJoin(F.broadcast(tstats))
        .select(
            "thash",
            (
                _add_one_bits("n_total", "cnt")
                - _add_one_bits("n_total_t", "coalesce(cnt_t, 0)")
            ).alias("diff"),
        )
    )
    return (
        keyed.join(lm, "thash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("diff").alias("logw_bits"),
        )
        .withColumn("logw_bp", _bp("logw_bits"))
    )


def stupid_backoff(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    penalty_bits: int = 1,
) -> DataFrame:
    """Stupid-backoff bigram scoring (Brants et al., EMNLP 2007, "Large
    Language Models in Machine Translation" §4) — THE distributed
    web-scale LM scheme: no discounting, no normalization, just raw
    relative frequency with a constant-penalty backoff, designed
    precisely so the model is two MapReduce count tables. Re-expressed
    here as two grouped counts plus equi-joins:

        seen bigram (a,b):   bits = len(bin(c_a div c_ab))
        unseen (backoff):    bits = penalty_bits
                                  + len(bin((N + V) div (cnt_b + 1)))
        first token:         bits = len(bin((N + V) div (cnt + 1)))

    i.e. the seen branch is the UNSMOOTHED conditional frequency
    (c_a >= c_ab >= 1, so the quotient is >= 1 and bin() is safe) and
    the backoff branch pays ``penalty_bits`` on top of the add-one
    unigram — ``penalty_bits=1`` is alpha = 1/2, the integer-exact
    power-of-two neighbor of Brants' alpha = 0.4. OOV score tokens
    fold into the same formula with cnt = 0.

    Unlike :func:`bigram_surprisal` (self-trained, add-one smoothed —
    the backoff branch would never fire when scoring the training
    corpus itself), this separates MODEL from SCORED corpus: train on
    ``lm_docs`` (a clean reference slice — the CCNet pattern of scoring
    web text with a Wikipedia-trained KenLM; Wenzek et al. 2019), score
    ``docs``. ``lm_docs=None`` self-trains, sharing one tokenize pass.

    Output: (doc_id, n_toks, sum_bits, n_backoff, surprisal_bp), all
    bigint; n_backoff counts scored positions that took the backoff
    branch (a model-coverage diagnostic: high n_backoff = the document
    is out-of-domain for the LM).

    Scale shape (10^12 docs): the staged hash arrays (one checkpointed
    tokenize pass per distinct corpus) feed counts and scoring; count
    tables shuffle (16-hex, bigint) with map-side partials; scoring is
    LEFT equi-joins on 16-hex keys (no inferred-isnotnull pushdown on
    the probe side); the (N, V) scalars broadcast via a 1-row
    crossJoin; bits are computed per MODEL-TABLE entry, not per
    occurrence. Token text never crosses an exchange.

    Reference analogy: the reference's two-stage detector+recognizer
    confidence (std-recognition/utils.py custom_mean) backed off to a
    detector-only score when recognition fails; same shape, corpus
    scale. DuckDB oracle: `q: lm_stupid_backoff` (even/odd doc_id
    train/score split).
    """
    if penalty_bits < 0:
        raise ValueError(f"penalty_bits must be >= 0, got {penalty_bits}")
    staged_sc = _hash_arrays(docs)
    staged_lm = (
        staged_sc if lm_docs is None else _hash_arrays(lm_docs)
    )
    counts = _array_counts(staged_lm)
    stats = _corpus_stats(counts)
    # add-one unigram bits per vocab entry (the backoff/first-token
    # table); its cnt is c_a for the seen-branch conditional
    ub = _unigram_bits(counts)
    # seen-branch bits per distinct MODEL bigram: raw conditional
    # frequency, no smoothing (the stupid-backoff signature move)
    sb = (
        _pair_rows(staged_lm)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .join(ub.select(F.col("h").alias("a"), F.col("cnt").alias("_ca")), "a")
        .select("a", "b", _bits(F.expr("_ca div c_ab")).alias("bits_seen"))
    )
    # OOV fallback constant = add-one bits at cnt 0 = len(bin(N + V));
    # broadcast the 1-row stats so the coalesce stays JVM-side
    oov = _bits(F.expr("n_total + vocab"))
    pair_bits = (
        _pair_rows(staged_sc)
        .join(sb, ["a", "b"], "left")
        .join(
            ub.select(F.col("h").alias("b"), F.col("bits").alias("_b0")),
            "b",
            "left",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.coalesce(
                F.col("bits_seen"),
                F.lit(penalty_bits) + F.coalesce(F.col("_b0"), oov),
            ).alias("bits"),
            F.col("bits_seen").isNull().cast("long").alias("bo"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("bits").alias("pb"), F.sum("bo").alias("n_backoff")
        )
    )
    first_bits = (
        _first_tokens(staged_sc)
        .join(ub.select("h", F.col("bits").alias("bits0")), "h", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", "n_toks", F.coalesce(F.col("bits0"), oov).alias("fb")
        )
    )
    return _positional_scores(
        first_bits,
        pair_bits,
        F.coalesce(F.col("n_backoff"), F.lit(0)).cast("long").alias("n_backoff"),
    )


def vocab_coverage(
    docs: DataFrame,
    ks: tuple[int, ...] = (1, 10, 100, 1000, 10000),
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing diagnostic of
    subword-vocabulary design (Sennrich et al. 2016 motivate BPE by
    exactly this curve: what fraction of corpus token OCCURRENCES the
    top-K most frequent types cover; the knee tells you where a word
    vocab stops paying and byte-fallback subwords take over).

    For each K in ``ks``: coverage(K) = (Σ cnt over the top-K types)
    / N, reported exactly as ``coverage_bp = (10000 * covered) div
    n_total``. Ranking ties break by thash ascending, so the curve is
    deterministic and engine-identical.

    Output: (k, covered, coverage_bp, n_total, vocab), all bigint —
    one row per requested K; K beyond the vocabulary saturates at
    covered = n_total.

    Scale shape (10^12 docs): ONE tokenize+count pass (the corpus-sized
    work, hash-only shuffle with map-side partials); the top-max(ks)
    slice compiles to TakeOrderedAndProject (per-partition top-k + a
    max(ks)-row merge — NEVER a range-repartitioned global sort of the
    vocabulary; pinned in test_plans.py); the cumulative-sum window and
    the ks fan-out run over ≤ max(ks) rows on one partition — bounded
    by the caller's curve resolution, not by the data. The (N, V)
    scalars broadcast via the 1-row crossJoin.

    DuckDB oracle: `q: lm_vocab_coverage`.
    """
    if not ks or any(k < 1 for k in ks) or len(set(ks)) != len(ks):
        raise ValueError(f"ks must be distinct positive ints, got {ks}")
    counts = token_counts(token_hashes(docs, "doc_id", "text"))
    stats = _corpus_stats(counts)
    top = counts.orderBy(F.desc("cnt"), "thash").limit(max(ks))
    w = (
        Window.orderBy(F.desc("cnt"), "thash")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("cnt").over(w).alias("cum"),
    )
    ks_df = docs.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "k long"
    )
    return (
        ks_df.join(ranked, F.col("rank") <= F.col("k"), "left")
        .groupBy("k")
        .agg(F.max("cum").alias("covered"))
        .crossJoin(F.broadcast(stats))
        .select(
            "k",
            F.coalesce(F.col("covered"), F.lit(0)).alias("covered"),
            F.expr(
                f"({SCALE_BP} * coalesce(covered, 0)) div n_total"
            ).alias("coverage_bp"),
            F.col("n_total").cast("long").alias("n_total"),
            F.col("vocab").cast("long").alias("vocab"),
        )
    )
