"""Ingestion-fixture tests (FIXTURES.md §B): every reference parse path.

Expected-result conventions from FIXTURES.md: identical (row_count,
header_list) across comma/tab/pipe/quoted after cleaning; nulls exactly where
cells were empty in people_sparse; people_badtypes raises; people_noid gains
a dense 1..N id, people_withid does not.
"""

from __future__ import annotations

import tempfile

import pytest

from omnidata_etl_spark.ingest import (
    TableExistsError,
    load,
    preview,
    read_any,
    sanitize_identifier,
    sniff_delimiter,
)
from omnidata_etl_spark.ingest.fixtures import (
    N_PEOPLE,
    PEOPLE_HEADERS,
    fixture_path,
)
from omnidata_etl_spark.session import release_cached_reads


def test_sniff_precedence():
    # tab > pipe > comma (/root/reference backend/index.js:107-109)
    assert sniff_delimiter("a\tb|c,d") == "\t"
    assert sniff_delimiter("a|b,c") == "|"
    assert sniff_delimiter("a,b") == ","


@pytest.mark.parametrize(
    "name",
    [
        "people_comma.csv",
        "people_tab.tsv",
        "people_pipe.md",
        "people_quoted.csv",
    ],
)
def test_formats_agree(spark, name):
    df = read_any(spark, fixture_path(name))
    assert tuple(df.columns) == PEOPLE_HEADERS
    rows = df.orderBy("person_id").collect()
    assert len(rows) == N_PEOPLE
    assert rows[0]["full_name"] == "Ada Lovelace"
    assert rows[0]["balance"] == "100.50"  # text-by-default (R7)


def test_blank_lines_skipped(spark):
    df = read_any(spark, fixture_path("people_blanklines.csv"))
    assert df.count() == N_PEOPLE


def test_sparse_nulls(spark):
    rows = (
        read_any(spark, fixture_path("people_sparse.csv"))
        .orderBy("person_id")
        .collect()
    )
    assert rows[0]["balance"] is None  # empty cell → NULL (R10)
    assert rows[0]["notes"] is None  # trailing empty → NULL
    assert rows[1]["signup_ts"] is None  # short row → NULL
    assert rows[1]["full_name"] is None
    assert rows[2]["signup_ts"] is None


def test_json_ingest_stringifies_nested(spark):
    df = read_any(spark, fixture_path("people.jsonl"))
    rows = df.orderBy("person_id").collect()
    assert len(rows) == N_PEOPLE
    # row 0's notes was a nested object → stringified (R11)
    assert rows[0]["notes"].startswith("{")
    assert "pioneer" in rows[0]["notes"]
    assert rows[1]["notes"] == "compiler"


def test_markdown_preview(spark):
    p = preview(spark, fixture_path("people_pipe.md"), n=3)
    assert p["headers"] == list(PEOPLE_HEADERS)
    assert len(p["preview"]) == 3
    assert p["preview"][0]["person_id"] == "1"


def test_excel_roundtrip(spark, tmp_path):
    """R3: first-sheet Excel read via the dependency-free xlsx reader
    (fixture workbook written by the same module's minimal writer)."""
    from omnidata_etl_spark.ingest.fixtures import _ROWS
    from omnidata_etl_spark.ingest.xlsx import write_xlsx

    path = str(tmp_path / "people.xlsx")
    rows = list(_ROWS)
    rows[2] = rows[2][:4] + ("", "")  # blank cells → NULL
    write_xlsx(path, list(PEOPLE_HEADERS), rows)
    df = read_any(spark, path)
    assert tuple(df.columns) == PEOPLE_HEADERS
    got = {r["person_id"]: r for r in df.collect()}
    assert len(got) == N_PEOPLE
    assert got["1"]["full_name"] == "Ada Lovelace"
    assert got["3"]["active"] is None  # blank cell → NULL (R10)
    assert got["3"]["notes"] is None


def test_sanitize_identifier():
    # strip [^a-zA-Z0-9_] + lowercase (backend/index.js:146)
    assert sanitize_identifier("My Table-2024!") == "mytable2024"


def test_surrogate_key_injection(spark):
    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    noid = read_any(spark, fixture_path("people_noid.csv"))
    t = load(noid, "noid", warehouse=wh)
    got = spark.read.parquet(t)
    assert "id" in got.columns
    assert sorted(r["id"] for r in got.collect()) == list(range(1, N_PEOPLE + 1))

    withid = read_any(spark, fixture_path("people_withid.csv"))
    t2 = load(withid, "withid", warehouse=wh)
    got2 = spark.read.parquet(t2)
    # case-insensitive `ID` present → no injection (backend/index.js:174-182)
    assert [c for c in got2.columns if c.lower() == "id"] == ["ID"]


def test_surrogate_key_small_and_large_paths_agree(spark, monkeypatch):
    """An input of at most ONE_TASK_MAX_BYTES sorts in ONE task: no
    exchange and no cache in its plan. A negative bound forces the same
    fixture through the two-phase range path; both must give the same
    (row, id) set with dense ids 1..N and keep the INT_MAX guard, for the
    default order (all columns, which is also file order here) and for a
    `full_name` order that differs from file order. Once the rows are
    read, `release_cached_reads` leaves the SQL cache as it found it."""
    import importlib

    load_mod = importlib.import_module("omnidata_etl_spark.ingest.load")
    util = importlib.import_module("omnidata_etl_spark.queries._util")
    df = read_any(spark, fixture_path("people_noid.csv"))
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()

    def keyed(order_by):
        out = load_mod.add_surrogate_key(df, order_by)
        plan = out._jdf.queryExecution().executedPlan().toString()
        try:
            rows = {
                (tuple(r[c] for c in df.columns), r["id"])
                for r in out.collect()
            }
        finally:
            release_cached_reads(out)
        assert cache.numCachedEntries() == n_cached
        return plan, rows

    orders = (None, ["full_name"])
    small = [keyed(o) for o in orders]
    monkeypatch.setattr(util, "ONE_TASK_MAX_BYTES", -1)
    large = [keyed(o) for o in orders]

    for (small_plan, small_rows), (large_plan, large_rows) in zip(small, large):
        assert "rangepartitioning" in large_plan.lower()  # the large path ran
        assert small_rows == large_rows
        ids = sorted(i for _, i in small_rows)
        assert ids == list(range(1, N_PEOPLE + 1))
        for plan in (small_plan, large_plan):
            assert "raise_error" in plan
        assert "Exchange" not in small_plan
        assert "InMemoryRelation" not in small_plan
    by_name = sorted(small[1][1], key=lambda t: t[1])
    names = [row[df.columns.index("full_name")] for row, _ in by_name]
    assert names == sorted(names)


@pytest.mark.parametrize("force_range", [False, True], ids=["one_task", "range"])
def test_surrogate_key_degenerate_inputs(spark, monkeypatch, tmp_path, force_range):
    """On both paths of the size rule, a 0-row frame numbers to 0 rows and
    keeps its declared schema plus `id`, and a 1-row frame gets id 1. Only
    the range path plans a range exchange, and neither `load()` nor
    `release_cached_reads` after a direct call leaves a SQL-cache entry."""
    from omnidata_etl_spark.ingest.load import add_surrogate_key
    from omnidata_etl_spark.queries import _util

    if force_range:
        monkeypatch.setattr(_util, "ONE_TASK_MAX_BYTES", -1)
    # spark.range has a plan-time size; an RDD-backed createDataFrame does
    # not, and an unknown size always takes the range path
    empty, one = (
        spark.range(n).selectExpr("'x' AS name", "CAST(7 AS INT) AS n")
        for n in (0, 1)
    )
    assert _util.range_numbered(empty, ["name"]).collect() == []
    assert [r["_sk_rn"] for r in _util.range_numbered(one, ["name"]).collect()] == [1]

    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    for df, want in ((empty, []), (one, [("x", 7, 1)])):
        out = add_surrogate_key(df)
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        try:
            assert out.schema.simpleString() == (
                "struct<name:string,n:int,id:int>"
            )
            assert [tuple(r) for r in out.collect()] == want
        finally:
            release_cached_reads(out)
        assert ("rangepartitioning" in plan) == force_range
        assert cache.numCachedEntries() == n_cached

    target = load(one, "one", warehouse=str(tmp_path))
    assert cache.numCachedEntries() == n_cached
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [("x", 7, 1)]


def test_errorifexists(spark):
    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    df = read_any(spark, fixture_path("people_comma.csv"))
    load(df, "t", warehouse=wh)
    with pytest.raises(TableExistsError):
        load(df, "t", warehouse=wh)
    load(df, "t", warehouse=wh, mode="overwrite")  # overwrite allowed


def test_strict_cast_aborts_whole_load(spark):
    import os

    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    bad = read_any(spark, fixture_path("people_badtypes.csv"))
    with pytest.raises(Exception):
        load(bad, "bad", warehouse=wh, types={"balance": "DECIMAL(12,2)"})
    # atomic: nothing (not even a partial table) left behind (R15 semantics)
    assert not os.path.exists(os.path.join(wh, "bad"))


def test_typed_load_roundtrip(spark):
    from decimal import Decimal

    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    df = read_any(spark, fixture_path("people_comma.csv"))
    t = load(
        df,
        "typed",
        warehouse=wh,
        columns=["person_id", "full_name", "balance", "signup_ts", "active"],
        types={
            "person_id": "BIGINT",
            "balance": "DECIMAL(12,2)",
            "signup_ts": "TIMESTAMP",
            "active": "BOOLEAN",
        },
    )
    got = spark.read.parquet(t)
    dtypes = dict(got.dtypes)
    assert dtypes["person_id"] == "bigint"
    assert dtypes["balance"] == "decimal(12,2)"
    assert dtypes["signup_ts"] == "timestamp"
    assert dtypes["active"] == "boolean"
    row = got.orderBy("person_id").first()
    assert row["balance"] == Decimal("100.50")
    assert row["active"] is True


def test_gzip_jsonl_dispatches_to_json_reader(spark, tmp_path):
    """Codec suffixes are stripped before extension dispatch: a .jsonl.gz
    must reach the JSON reader (not be sniffed as delimiter text)."""
    import gzip

    from omnidata_etl_spark.ingest.fixtures import fixture_path
    from omnidata_etl_spark.ingest.readers import read_any

    src = fixture_path("people.jsonl")
    gz = str(tmp_path / "people.jsonl.gz")
    with open(src, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    got = read_any(spark, gz)
    want = read_any(spark, src)
    assert sorted(got.columns) == sorted(want.columns)
    assert got.count() == want.count()


def test_xml_ingest_matches_csv_rows(spark):
    """Spark-4 native XML source: same logical people table as the CSV twin
    (XML infers types, so compare values loosely; schema order is the
    source's inference order, not file order)."""
    xml = read_any(spark, fixture_path("people.xml"))
    assert sorted(xml.columns) == sorted(PEOPLE_HEADERS)
    rows = {int(r["person_id"]): r for r in xml.collect()}
    assert len(rows) == N_PEOPLE
    ada = rows[1]
    assert ada["full_name"] == "Ada Lovelace"
    assert float(ada["balance"]) == 100.50
    assert ada["active"] in (True, "true")


def test_schema_evolution_merge(spark, sf_dir):
    """mergeSchema across two staged parquet generations: unified 4-column
    schema, rows from both, NULL backfill exactly on the old generation,
    id sum preserved — all proven by the op's own evolution_ok column."""
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["ingest_schema_evolution"].fn(spark, sf_dir).collect()[0]
    assert row["evolution_ok"] is True
    assert row["n_columns"] == 4
    assert row["n_backfilled"] * 2 == row["n_rows"]


def _write(path, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def _schema_jobs(spark, group: str) -> int:
    """Schema-resolution jobs run under `group`: the CSV header job and the
    JSON inference scan are the stages named `csv at` / `json at` (the
    preview rows are `collect at`, the load's write `parquet at`)."""
    import time

    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while True:  # the status store fills from the async listener bus;
        # the load's write is the group's last job, so wait for it
        names = [
            tracker.getStageInfo(s).name
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None
        ]
        if any(n.startswith("parquet at") for n in names):
            break
        assert time.monotonic() < deadline, names
        time.sleep(0.05)
    return sum(n.startswith(("csv at", "json at")) for n in names)


@pytest.mark.parametrize(
    "name, text",
    [
        ("fresh.csv", "a,b,amount\n" + "".join(f"{i},x{i},{i}.5\n" for i in range(40))),
        ("fresh.jsonl", "".join(f'{{"a": {i}, "amount": "{i}.5"}}\n' for i in range(40))),
    ],
)
def test_preview_read_load_resolves_schema_once(spark, tmp_path, name, text):
    """preview → read_any → load of a file seen for the first time resolves
    its schema in ONE job: the read after the preview returns the memoized
    handle instead of re-running the CSV header job / JSON inference scan
    (two schema jobs without the memo)."""
    path = str(tmp_path / name)
    _write(path, text)
    sc = spark.sparkContext
    group = f"schema-once-{name}-{tmp_path.name}"
    sc.setJobGroup(group, "preview, read, load")
    try:
        pv = preview(spark, path, n=5)
        df = read_any(spark, path)
        load(df, "fresh", warehouse=str(tmp_path / "wh"),
             types={"amount": "DECIMAL(10,1)"})
    finally:
        sc._jsc.clearJobGroup()
    assert len(pv["preview"]) == 5 and "amount" in pv["headers"]
    assert _schema_jobs(spark, group) == 1
    assert read_any(spark, path) is df


def test_read_any_memo_sees_a_rewritten_file(spark, tmp_path):
    """Each part of the file identity (inode, mtime, size) invalidates the
    memo on its own: a rewritten file's new header is seen."""
    import os

    path = str(tmp_path / "t.csv")
    _write(path, "a,b\n1,2\n")
    first = read_any(spark, path)
    assert first.columns == ["a", "b"]
    assert read_any(spark, path) is first

    # new inode (atomic replace), same size, mtime pinned to the old one
    st = os.stat(path)
    _write(path + ".tmp", "c,d\n3,4\n")
    os.utime(path + ".tmp", ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(path + ".tmp", path)
    assert os.stat(path).st_size == st.st_size
    assert read_any(spark, path).columns == ["c", "d"]

    # same inode, same size, new mtime
    st = os.stat(path)
    _write(path, "e,f\n5,6\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert os.stat(path).st_ino == st.st_ino
    assert read_any(spark, path).columns == ["e", "f"]

    # same inode, same mtime, new size
    st = os.stat(path)
    _write(path, "g,h,i\n7,8,9\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    got = read_any(spark, path)
    assert got.columns == ["g", "h", "i"]
    assert [tuple(r) for r in got.collect()] == [("7", "8", "9")]


def test_read_any_rebuilds_directories_and_excel(spark, tmp_path):
    """Only regular files with a lazy-scan reader are memoized: a directory
    (its file set can change) and an Excel workbook (its frame holds rows
    parsed on the driver) resolve on every call."""
    from omnidata_etl_spark.ingest.fixtures import _ROWS
    from omnidata_etl_spark.ingest.xlsx import write_xlsx

    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    assert read_any(spark, d, fmt="parquet") is not read_any(spark, d, fmt="parquet")
    xlsx = str(tmp_path / "people.xlsx")
    write_xlsx(xlsx, list(PEOPLE_HEADERS), list(_ROWS))
    assert read_any(spark, xlsx) is not read_any(spark, xlsx)


def test_excel_load_runs_as_many_jobs_as_csv(spark, tmp_path):
    """An Excel sheet plans with a plan-time size like a CSV scan, so its
    `load()` keys the rows in one task: the same job count as the equal
    CSV, and the same rows."""
    from omnidata_etl_spark.ingest.fixtures import _ROWS
    from omnidata_etl_spark.ingest.xls_biff import write_xls
    from omnidata_etl_spark.ingest.xlsx import write_xlsx

    paths = {ext: str(tmp_path / f"people.{ext}") for ext in ("csv", "xlsx", "xls")}
    _write(paths["csv"], "".join(",".join(r) + "\n" for r in [PEOPLE_HEADERS, *_ROWS]))
    write_xlsx(paths["xlsx"], list(PEOPLE_HEADERS), list(_ROWS))
    write_xls(paths["xls"], list(PEOPLE_HEADERS), list(_ROWS))
    sc = spark.sparkContext
    jobs, rows = {}, {}
    for ext, path in paths.items():
        df = read_any(spark, path)
        group = f"excel-load-{ext}-{tmp_path.name}"
        sc.setJobGroup(group, f"load {ext}")
        try:
            target = load(df, f"people_{ext}", warehouse=str(tmp_path / "wh"))
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[ext] = len(sc.statusTracker().getJobIdsForGroup(group))
        rows[ext] = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert jobs["xlsx"] == jobs["csv"] and jobs["xls"] == jobs["csv"], jobs
    assert rows["xlsx"] == rows["csv"] and rows["xls"] == rows["csv"]
    assert len(rows["csv"]) == N_PEOPLE


def test_read_any_reads_a_directory_of_text_files(spark, tmp_path):
    """A directory of CSV or markdown files sniffs its header from the first
    visible file in sorted order — names starting with `_` or `.` are
    hidden, as in Spark's listing — with or without `fmt`, and loads with
    dense ids."""
    csv_dir, md_dir = tmp_path / "csv", tmp_path / "md"
    for d in (csv_dir, md_dir):
        d.mkdir()
        _write(str(d / ".meta"), "x|y\n")
        _write(str(d / "_SUCCESS"), "")
    _write(str(csv_dir / "p0.csv"), "a,b\n1,2\n3,4\n")
    _write(str(csv_dir / "p1.csv"), "a,b\n5,6\n7,8\n")
    _write(str(md_dir / "p0.md"), "| a | b |\n|---|---|\n| 1 | 2 |\n| 3 | 4 |\n")
    _write(str(md_dir / "p1.md"), "| a | b |\n|---|---|\n| 5 | 6 |\n| 7 | 8 |\n")

    for path, fmt in ((csv_dir, None), (csv_dir, "csv"), (md_dir, "md")):
        df = read_any(spark, str(path), fmt=fmt)
        assert df.columns == ["a", "b"], (path, fmt)
        assert sorted(tuple(r) for r in df.collect()) == [
            ("1", "2"), ("3", "4"), ("5", "6"), ("7", "8")
        ], (path, fmt)
    t = load(read_any(spark, str(csv_dir)), "parts", warehouse=str(tmp_path / "wh"))
    assert sorted(r["id"] for r in spark.read.parquet(t).collect()) == [1, 2, 3, 4]


def test_read_any_memo_equals_unmemoized_read(spark, tmp_path):
    """The memoized handle gives the same schema and rows as a fresh
    resolve, for every memoized reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from omnidata_etl_spark.ingest.avro import write_avro
    from omnidata_etl_spark.ingest.readers import _read
    from tests.oracle_util import canonical

    avro = str(tmp_path / "people.avro")
    write_avro(
        avro,
        {"type": "record", "name": "r", "fields": [
            {"name": "a", "type": "long"}, {"name": "s", "type": "string"}]},
        [{"a": i, "s": f"s{i}"} for i in range(9)],
        records_per_block=2,
    )
    parquet = str(tmp_path / "people.parquet")
    pq.write_table(pa.table({"a": list(range(9)), "s": list("abcdefghi")}), parquet)
    paths = [
        fixture_path("people_comma.csv"),
        fixture_path("people_tab.tsv"),
        fixture_path("people_pipe.md"),
        fixture_path("people.jsonl"),
        fixture_path("people.xml"),
        avro,
        parquet,
    ]
    for path in paths:
        memo = read_any(spark, path)
        assert read_any(spark, path) is memo
        ext = "." + path.rsplit(".", 1)[1]
        fresh = _read(spark, path, ext)
        assert memo.schema == fresh.schema, path
        assert canonical(memo.toPandas()) == canonical(fresh.toPandas()), path


@pytest.mark.parametrize(
    "name, text, want",
    [
        ("empty.csv", "", None),
        ("empty.jsonl", "", None),
        ("header_only.csv", "a,b,c\n", ["a", "b", "c", "id"]),
    ],
)
def test_load_zero_column_input_raises_named_error(spark, tmp_path, name, text, want):
    """An empty file has no columns: preview shows no headers and load
    names the table instead of failing inside the surrogate key's sort. A
    header-only CSV has columns and loads zero rows."""
    path = str(tmp_path / name)
    _write(path, text)
    wh = str(tmp_path / "wh")
    if want is None:
        assert preview(spark, path)["headers"] == []
        with pytest.raises(ValueError, match="'empty_t'.*no columns"):
            load(read_any(spark, path), "empty_t", warehouse=wh)
        return
    got = spark.read.parquet(load(read_any(spark, path), "header_only", warehouse=wh))
    assert got.columns == want
    assert got.count() == 0
