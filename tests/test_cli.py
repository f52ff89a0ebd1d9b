"""CLI surface: parser wiring + in-process subcommand runs (each command
reuses the session via getOrCreate, so the test fixture's Spark serves)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.cli import build_parser, main


def test_parser_subcommands():
    ap = build_parser()
    for argv in (
        ["synth", "--out", "/tmp/x"],
        ["extract", "--input", "a", "--out", "b", "--manifest", "c"],
        ["stream", "--input", "a", "--out", "b", "--checkpoint", "c"],
        ["warc", "--input", "a", "--out", "b"],
        ["curate", "--input", "a", "--out", "b"],
        ["tokenize", "--input", "a", "--out", "b"],
        ["score", "--input", "a", "--out", "b"],
        ["profile", "--input", "a"],
        ["links", "--input", "a", "--out", "b"],
        ["rank", "--input", "a"],
        ["rank", "--input", "a", "--out", "b", "--iters", "2"],
        ["report", "--input", "a"],
        ["semdedup", "--input", "a", "--out", "b", "--threshold", "0.3"],
        ["dsir", "--input", "a", "--out", "b",
         "--target-where", "lang = 'en'"],
        ["dupspans", "--input", "a", "--out", "b", "--n", "4"],
        ["search", "--input", "a", "--k", "3", "spark", "merge"],
        ["stream-curate", "--input", "a", "--out", "b",
         "--checkpoint", "c"],
    ):
        args = ap.parse_args(argv)
        assert callable(args.fn)
    # curation gate flags parse with the right types/defaults
    args = ap.parse_args(
        ["curate", "--input", "a", "--out", "b",
         "--max-rep-ratio", "0.15", "--scrub"]
    )
    assert args.max_rep_ratio == 0.15 and args.scrub is True
    dflt = ap.parse_args(["curate", "--input", "a", "--out", "b"])
    assert dflt.max_rep_ratio is None and dflt.scrub is False
    with pytest.raises(SystemExit):
        ap.parse_args(["extract"])  # missing required args


def test_synth_then_extract_roundtrip(spark, tmp_path, capfd):
    pages = str(tmp_path / "pages")
    main(["synth", "--out", pages, "-n", "120"])
    main(
        [
            "extract",
            "--input", pages,
            "--out", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "man"),
            "--buckets", "4",
        ]
    )
    out = capfd.readouterr().out
    assert "run_id=" in out and '"stage": "extract"' in out
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 120
    assert got.filter(F.length("text") > 0).count() > 80


def test_tokenize_and_score_roundtrip(spark, tmp_path, capfd):
    src = "/root/testdata/sf0.001/documents.parquet"
    tok_out = str(tmp_path / "tok")
    main(["tokenize", "--input", src, "--out", tok_out, "--merges", "8"])
    tok = spark.read.parquet(tok_out)
    assert tok.columns == ["doc_id", "bpe_tokens"]
    assert tok.count() == 500

    score_out = str(tmp_path / "scores")
    main(["score", "--input", src, "--out", score_out])
    scores = spark.read.parquet(score_out)
    assert scores.count() == 500
    assert "quality_score" in scores.columns

    top_out = str(tmp_path / "top")
    main(["score", "--input", src, "--out", top_out,
          "--top-fraction", "0.25"])
    assert spark.read.parquet(top_out).count() == 125  # ceil(.25*500)


def test_profile_prints_columns(spark, capfd):
    main(["profile", "--input", "/root/testdata/sf0.001/documents.parquet"])
    out = capfd.readouterr().out
    for col in ("doc_id", "text", "lang", "source", "n_chars"):
        assert f"{col}\t" in out
    assert "rows=500" in out


def test_report_prints_dataset_card(spark, capfd):
    main(["report", "--input", "/root/testdata/sf0.001/documents.parquet"])
    out = capfd.readouterr().out
    lines = dict(
        l.split("\t") for l in out.strip().splitlines() if "\t" in l
    )
    for metric in (
        "n_docs", "n_tokens", "n_quality", "n_exact_dup_docs",
        "n_langs", "n_sources",
    ):
        assert metric in lines, out
    assert lines["n_docs"] == "500"


def test_stream_curate_cli_end_to_end(spark, tmp_path):
    import datetime

    good = (
        "the quick brown fox keeps the garden and the house in the sun "
        "while the dog sleeps by the door"
    )
    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    schema = "doc_id long, warc_ts timestamp, text string, lang string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, ts, good, "en"), (2, ts, good, "en")], schema
    ).coalesce(1).write.parquet(src)
    main(
        [
            "stream-curate",
            "--input", src,
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--available-now",
            "--timeout", "120",
        ]
    )
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_links_and_rank_cli(spark, tmp_path, capfd):
    from ocr_pipeline_spark.cli import main

    pages = str(tmp_path / "pages")
    main(["synth", "--out", pages, "-n", "60"])
    links = str(tmp_path / "links")
    main(["links", "--input", pages, "--out", links])
    got = spark.read.parquet(links)
    assert got.count() > 0
    assert set(got.columns) == {"src", "link_idx", "href", "resolved"}
    capfd.readouterr()
    main(["rank", "--input", pages, "--top", "3"])
    out = capfd.readouterr().out.strip().splitlines()
    assert len(out) == 3 and all("\t" in line for line in out)


def test_semdedup_cli(spark, tmp_path, capfd):
    out = str(tmp_path / "sd")
    main(
        ["semdedup", "--input", "/root/testdata/sf0.001/embeddings.parquet",
         "--out", out, "--threshold", "0.3"]
    )
    got = spark.read.parquet(out)
    assert set(got.columns) == {"vec_id", "cell", "keep"}
    kept = got.filter("keep").count()
    assert 0 < kept < got.count()
    assert f"({kept} kept)" in capfd.readouterr().out


def test_dupspans_cli(spark, tmp_path, capfd):
    out = str(tmp_path / "ds")
    main(
        ["dupspans", "--input", "/root/testdata/sf0.001/documents.parquet",
         "--out", out, "--flag-bp", "1"]
    )
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "n_tokens", "dup_tokens", "dup_bp"}
    flagged = got.filter("dup_bp >= 1").count()
    assert 0 < flagged < got.count()
    assert f"({flagged} docs" in capfd.readouterr().out


def test_dsir_cli(spark, tmp_path, capfd):
    out = str(tmp_path / "dsir")
    main(
        ["dsir", "--input", "/root/testdata/sf0.001/documents.parquet",
         "--out", out, "--target-where", "lang = 'en'"]
    )
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "n_toks", "logw_bits", "logw_bp"}
    assert got.count() > 0
    assert "importance weights" in capfd.readouterr().out


def test_search_cli(spark, capfd):
    from ocr_pipeline_spark.operators.index import bm25_search

    src = "/root/testdata/sf0.001/documents.parquet"
    terms = ["spark", "merge"]
    main(["search", "--input", src, "--k", "3", *terms])
    lines = capfd.readouterr().out.strip().splitlines()
    want = bm25_search(spark.read.parquet(src), tuple(terms), k=3).collect()
    assert len(lines) == len(want) == 3
    for line, r in zip(lines, want):
        assert line.split()[:4] == ["doc", str(r["doc_id"]), "score", str(r["score"])]
        assert line.endswith(f"({r['n_terms_hit']}/2 terms)")
