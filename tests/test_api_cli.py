"""End-to-end tests of the user-facing facade: pipeline CSV→CSV,
index build, retrieval — the three things a reference user does."""

from __future__ import annotations

import glob
import gzip
import shutil
import tempfile

import pytest

from usda_food_data_pipeline_spark import api
from usda_food_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="api_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def landing_dir(spark, workdir):
    """Stage USDA-shaped CSVs (same fixtures as the golden pipeline
    test, written as single-file CSVs like the reference's landing)."""
    import csv
    import os

    d = f"{workdir}/landing"
    os.makedirs(d)
    tables = {
        "branded_food": (
            ["fdc_id", "gtin_upc", "ingredients", "serving_size", "serving_size_unit"],
            [
                [10, "u1", "  sugar, salt ", "12.5", "g"],
                [11, "u1", "sugar, salt", "12.5", "g"],
                [20, "u2", "water", "n/a", "ml"],
                [30, "u3", "vitamins", "5", "IU"],
            ],
        ),
        "food": (
            ["fdc_id", "description"],
            [[11, " Choc Bar "], [20, "Water"], [30, "Vites"], [99, "NotBranded"]],
        ),
        "nutrient": (
            ["id", "name", "unit_name"],
            [[1, "Protein", "G"], [2, "Energy", "KCAL"]],
        ),
        "food_nutrient": (
            ["fdc_id", "nutrient_id", "amount"],
            [[11, 1, 10.0], [11, 1, 20.0], [11, 2, 5000.0], [20, 2, 100.0]],
        ),
    }
    for name, (header, rows) in tables.items():
        with open(f"{d}/{name}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
    return d


@pytest.mark.slow
def test_run_pipeline_end_to_end(spark, landing_dir, workdir):
    out = f"{workdir}/wide_csv"
    api.run_pipeline(spark, landing_dir, out, fmt="csv")
    back = spark.read.option("header", True).csv(out)
    rows = back.collect()
    assert len(rows) == 1  # only the deduped u1 survivor (golden test logic)
    r = rows[0].asDict()
    assert r["FOOD_NAME"] == "CHOC BAR"
    assert r["PROTEIN (G)"] == "15.0"
    raw = open(glob.glob(out + "/part-*.csv")[0]).readline()
    assert raw.startswith('"')  # quoted output like the reference sink


def test_index_and_retrieve(spark, sf_dir, workdir):
    docs = load_table(spark, sf_dir, "documents")
    index_path = f"{workdir}/index"
    api.build_index(spark, docs, "text", "doc_id", index_path, dim=32)
    meta = docs.select("doc_id", "lang", "source")
    hits = api.retrieve(
        spark, index_path, "key agg row scan slow fast table", metadata_df=meta,
        k=5, dim=32,
    )
    assert len(hits) == 5
    assert all({"doc_id", "score", "lang"} <= set(h) for h in hits)
    assert hits == sorted(hits, key=lambda h: (-h["score"], h["doc_id"]))


def test_retrieve_empty_query_returns_nothing(spark, sf_dir, workdir):
    """A whitespace-only query embeds to the zero vector; NaN cosine
    scores must not surface as arbitrary 'top' matches."""
    import os

    from usda_food_data_pipeline_spark.sources.tables import load_table

    index_path = f"{workdir}/index_empty_q"
    if not os.path.exists(index_path):
        docs = load_table(spark, sf_dir, "documents").limit(20)
        api.build_index(spark, docs, "text", "doc_id", index_path, dim=16)
    assert api.retrieve(spark, index_path, "   ", k=5, dim=16) == []


def test_read_usda_csv_schema_by_name(spark, workdir):
    """Explicit schema is bound by header NAME: extra columns and a
    different column order must not shift types (the failure mode of
    positional StructType over real USDA exports)."""
    import os

    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    d = f"{workdir}/landing2"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/food_nutrient.csv", "w") as f:
        f.write("amount,extra_col,fdc_id,nutrient_id\n1.5,x,11,1\n")
    df = read_usda_csv(spark, f"{d}/food_nutrient.csv", "food_nutrient")
    assert dict(df.dtypes) == {
        "amount": "double", "extra_col": "string",
        "fdc_id": "bigint", "nutrient_id": "bigint",
    }
    r = df.collect()[0]
    assert r["amount"] == 1.5 and r["fdc_id"] == 11


def test_read_usda_csv_glob_with_divergent_headers(spark, workdir):
    """r03 verdict item 7: with explicit schema + header=True, Spark
    binds CSV columns POSITIONALLY per file, so a glob whose files
    disagree on column order silently transposes values. read_usda_csv
    must detect the divergence and bind per-file."""
    import os

    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    d = f"{workdir}/landing_glob"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/part1.csv", "w") as f:
        f.write("fdc_id,nutrient_id,amount\n11,1,1.5\n")
    with open(f"{d}/part2.csv", "w") as f:
        f.write("amount,fdc_id,nutrient_id\n2.5,22,2\n")
    df = read_usda_csv(spark, f"{d}/*.csv", "food_nutrient")
    rows = {r["fdc_id"]: (r["nutrient_id"], r["amount"]) for r in df.collect()}
    assert rows == {11: (1, 1.5), 22: (2, 2.5)}
    assert dict(df.dtypes)["amount"] == "double"


def test_cli_query_subcommand(spark, workdir):
    from usda_food_data_pipeline_spark.__main__ import main

    out = f"{workdir}/vocab_out"
    rc = main(
        ["query", "vocab_topk", "--sf-dir", "/root/testdata/sf0.001", "--output", out]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() > 0 and set(got.columns) == {"rank", "token", "n"}
    assert main(["query", "not_a_query"]) == 2


@pytest.mark.slow
def test_retrieve_hybrid_fuses_both_sides(spark, sf_dir, workdir):
    import os

    from usda_food_data_pipeline_spark.sources.tables import load_table

    index_path = f"{workdir}/index_hybrid"
    docs = load_table(spark, sf_dir, "documents").limit(50)
    if not os.path.exists(index_path):
        api.build_index(spark, docs, "text", "doc_id", index_path, dim=16)
    out = api.retrieve_hybrid(
        spark, index_path, docs, "spark join dup", dim=16, k=5, candidates=10
    )
    assert 0 < len(out) <= 5
    # fused order is by descending rrf; every hit carries its text and
    # at least one side's rank
    rrfs = [r["rrf"] for r in out]
    assert rrfs == sorted(rrfs, reverse=True)
    for r in out:
        assert r["text"] is not None
        assert r["rank_lexical"] is not None or r["rank_vector"] is not None
    # empty query -> no candidates, not k arbitrary rows
    assert api.retrieve_hybrid(spark, index_path, docs, "   ", dim=16) == []


def test_read_usda_csv_glob_runs_no_job(spark, workdir):
    """Headers are read on the driver and files listed by the text
    source, so building the DataFrame of a multi-file glob (one header
    read per file) starts no Spark job."""
    import os

    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    d = f"{workdir}/landing_nojob"
    os.makedirs(d, exist_ok=True)
    for i in (1, 2):
        with open(f"{d}/part{i}.csv", "w") as f:
            f.write(f"fdc_id,nutrient_id,amount\n{i}1,{i},{i}.5\n")
    sc = spark.sparkContext
    sc.setJobGroup("test_read_usda_csv_no_job", "read_usda_csv")
    try:
        df = read_usda_csv(spark, f"{d}/*.csv", "food_nutrient")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("test_read_usda_csv_no_job") == []
    assert {r["fdc_id"]: r["amount"] for r in df.collect()} == {11: 1.5, 21: 2.5}


def test_read_usda_csv_rewrite_in_place_rebinds_by_name(spark, workdir):
    """A staged CSV rewritten IN PLACE with a different column order is
    bound by its new header on the next read, not by the one an earlier
    read saw (which would silently transpose values)."""
    import os
    import time

    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    d = f"{workdir}/landing_rewrite"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/p1.csv", "w") as f:
        f.write("fdc_id,nutrient_id,amount\n11,1,1.5\n")
    with open(f"{d}/p2.csv", "w") as f:
        f.write("fdc_id,nutrient_id,amount\n21,2,2.5\n")
    df1 = read_usda_csv(spark, f"{d}/*.csv", "food_nutrient")
    assert {r["fdc_id"] for r in df1.collect()} == {11, 21}

    time.sleep(0.05)  # ensure a distinct mtime_ns
    with open(f"{d}/p2.csv", "w") as f:  # rewritten: columns reordered
        f.write("amount,fdc_id,nutrient_id\n2.5,21,2\n")
    df2 = read_usda_csv(spark, f"{d}/*.csv", "food_nutrient")
    rows = {r["fdc_id"]: r["amount"] for r in df2.collect()}
    assert rows == {11: 1.5, 21: 2.5}  # no transposition


# (file name, bytes): header shapes whose parse read_usda_csv must
# share with Spark's own header inference
_HEADER_CASES = {
    "quoted_comma": ("q.csv", b'"fdc_id,x",amount,"a\\"b"\n1,2,3\n'),
    "padded": ("p.csv", b" fdc_id , amount ,nutrient_id \n1,2,3\n"),
    "empty_name": ("e.csv", b'fdc_id,,amount,""\n1,2,3,4\n'),
    "duplicates": ("d.csv", b"fdc_id,amount,FDC_ID,amount,x\n1,2,3,4,5\n"),
    "crlf": ("c.csv", b"fdc_id,amount\r\n1,2.5\r\n"),
    "bom": ("b.csv", b"\xef\xbb\xbffdc_id,amount\n1,2.5\n"),
    "gzip": ("g.csv.gz", gzip.compress(b"fdc_id,nutrient_id,amount\n1,2,3.5\n")),
    "zero_bytes": ("z.csv", b""),
    # text after a closing quote: Spark keeps the field as written
    "quote_then_text": ("t.csv", b'"a,b",c,"d""e"\n1,2,3\n'),
    "quoted_prefix": ("f.csv", b'"ab"c,d\n1,2\n'),
    # a backslash outside quotes, and space after a closing quote
    "bare_backslash": ("s.csv", b'a\\,b,c\n1,2,3\n'),
    "space_after_quote": ("w.csv", b'"a" ,"b"\t\n1,2\n'),
    "blank_first_lines": ("l.csv", b"\n  \n\nfdc_id,amount\n1,2.5\n"),
    # Spark skips only the lines that SQL trim (spaces) empties, after
    # dropping the BOM that opens a file
    "tab_only_first_line": ("n.csv", b"\t\nfdc_id,amount\n1,2.5\n"),
    "bom_only_first_line": ("o.csv", b"\xef\xbb\xbf\nfdc_id,amount\n1,2.5\n"),
    # the header starts past the first read chunk, after a CR LF split
    # across the chunk boundary
    "blank_lines_past_a_chunk": ("m.csv", b" " + b"\r\n" * 40000 + b"fdc_id,amount\r\n1,2\r\n"),
    "duplicates_case_sensitive": ("k.csv", b"fdc_id,amount,FDC_ID,amount,x\n1,2,3,4,5\n"),
}


@pytest.mark.parametrize("case", sorted(_HEADER_CASES))
def test_read_usda_csv_header_matches_spark(spark, tmp_path, case):
    """The driver-side header read names columns exactly as
    ``spark.read.option("header", True).csv(f).columns`` does, and
    starts no Spark job doing so."""
    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    name, data = _HEADER_CASES[case]
    f = tmp_path / name
    f.write_bytes(data)
    sc = spark.sparkContext
    group = f"test_read_usda_csv_header_{case}"
    try:
        if case == "duplicates_case_sensitive":
            spark.conf.set("spark.sql.caseSensitive", "true")
        want = spark.read.option("header", True).csv(str(f)).columns
        sc.setJobGroup(group, "read_usda_csv")
        got = read_usda_csv(spark, str(f), "food_nutrient").columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.unset("spark.sql.caseSensitive")
    assert got == want
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    if case == "gzip":  # decompressed, not two equal misreads
        assert want == ["fdc_id", "nutrient_id", "amount"]
    if case == "duplicates_case_sensitive":  # only exact repeats renamed
        assert want == ["fdc_id", "amount1", "FDC_ID", "amount3", "x"]
    if case == "tab_only_first_line":  # a tab is not blank to SQL trim
        assert want == ["\t"]
    if case == "bom_only_first_line":
        assert want == ["fdc_id", "amount"]


def test_read_usda_csv_missing_path_raises_spark_error(spark, tmp_path):
    """A path or glob that matches nothing raises the CSV source's own
    PATH_NOT_FOUND AnalysisException."""
    from pyspark.errors import AnalysisException

    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    for path in (str(tmp_path / "missing.csv"), str(tmp_path / "none*.csv")):
        with pytest.raises(AnalysisException) as want:
            spark.read.option("header", True).csv(path)
        with pytest.raises(AnalysisException) as got:
            read_usda_csv(spark, path, "food")
        assert got.value.getCondition() == want.value.getCondition() == "PATH_NOT_FOUND"
        assert str(got.value) == str(want.value)


def test_read_usda_csv_path_with_space(spark, tmp_path):
    """Directories whose names need URI escaping are read, both as one
    file and as a glob of files with divergent headers."""
    from usda_food_data_pipeline_spark.sources.tables import read_usda_csv

    d = tmp_path / "USDA landing 100%"
    d.mkdir()
    (d / "part1.csv").write_text("fdc_id,nutrient_id,amount\n11,1,1.5\n")
    df = read_usda_csv(spark, str(d / "part1.csv"), "food_nutrient")
    assert [tuple(r) for r in df.collect()] == [(11, 1, 1.5)]
    (d / "part2.csv").write_text("amount,fdc_id,nutrient_id\n2.5,22,2\n")
    df = read_usda_csv(spark, f"{d}/*.csv", "food_nutrient")
    assert {r["fdc_id"]: (r["nutrient_id"], r["amount"]) for r in df.collect()} == {
        11: (1, 1.5), 22: (2, 2.5),
    }
