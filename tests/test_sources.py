"""Source/sink format coverage beyond parquet (SURVEY.md §2.2 'file
formats'): CSV and JSON round-trips with explicit schemas (never
inferSchema on the read path — a schema inference pass over 100 TB is
a full extra scan)."""

import pytest
from pyspark.sql import functions as F

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.catalog import table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").select("doc_id", "text", "lang")


def assert_same(a, b):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_csv_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "docs_csv")
    docs.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    back = spark.read.schema(docs.schema).option("header", True).csv(out)
    assert_same(docs, back)


def test_json_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "docs_json")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    assert_same(docs, back)


def test_partitioned_parquet_write_prunes(spark, docs, tmp_path):
    """Hive-style partitioned write + partition pruning on read — the
    layout primitive for time/tenant-partitioned 100 TB tables."""
    out = str(tmp_path / "docs_part")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    one_lang = docs.select("lang").first()["lang"]
    import io
    from contextlib import redirect_stdout

    filtered = back.filter(F.col("lang") == one_lang)
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert filtered.count() == docs.filter(F.col("lang") == one_lang).count()


def test_approx_agg_error_bounds(spark, sf_dir):
    """The approx_agg contract (VERDICT r1 item 7): the sketch answers
    must sit within 3·rsd of the declared exact companion
    (exact_distinct_agg), rsd = 0.05 being approx_count_distinct's
    default standard error; the sketch median must land inside the
    exact p40-p60 band. Both queries run through their registry entries
    so the bound checks exactly what the driver sees."""
    import __spark_entry__ as E

    qs = E.queries()
    approx = qs["approx_agg"](spark, sf_dir).first()
    exact = qs["exact_distinct_agg"](spark, sf_dir).first()
    rsd = 0.05
    assert approx["n"] == exact["n"]  # exact COUNT(*) rides both
    rel = abs(approx["approx_parts"] - exact["exact_parts"]) / exact["exact_parts"]
    assert rel <= 3 * rsd, f"HLL++ error {rel:.4f} exceeds 3*rsd"
    li = table(spark, sf_dir, "lineitem")
    band = li.agg(
        F.expr("percentile(l_extendedprice, 0.4)").alias("p40"),
        F.expr("percentile(l_extendedprice, 0.6)").alias("p60"),
    ).first()
    assert band["p40"] <= approx["approx_median_price"] <= band["p60"]


def test_lakehouse_stubs_raise_actionable_errors(spark):
    """Iceberg (no jar-free path) must fail with a NotImplementedError
    naming the missing jar, not an opaque ClassNotFound; Delta falls back
    to the jar-free log reader, which reports a non-table path as
    FileNotFoundError naming the missing ``_delta_log``."""
    import pytest as _pytest

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.readers import (
        read_delta,
        read_iceberg,
    )

    with _pytest.raises(NotImplementedError, match="iceberg"):
        read_iceberg(spark, "nonexistent_catalog.db.tbl")
    with _pytest.raises(FileNotFoundError, match="_delta_log"):
        read_delta(spark, "/tmp/nonexistent_delta")


def test_csv_reader_helper(spark, docs, tmp_path):
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.readers import (
        read_csv,
    )

    out = str(tmp_path / "docs_csv2")
    docs.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    back = read_csv(spark, out, docs.schema)
    assert back.count() == docs.count()


def test_orc_roundtrip_and_pushdown(spark, docs, tmp_path):
    """ORC is jar-free in Spark: write the docs table, read it back via
    the helper, and confirm predicate pushdown reaches the ORC scan."""
    import io
    from contextlib import redirect_stdout

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.readers import (
        read_orc,
    )

    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = read_orc(spark, path)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    filtered = back.filter(back.doc_id > 100).select("doc_id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain(True)
    plan = buf.getvalue()
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "doc_id" in pushed


def test_training_shard_writer_contract(spark, docs, tmp_path):
    """Shard files: exactly n, membership = pmod(xxhash64(key), n),
    in-file order ascending, byte-stable across re-runs."""
    from pyspark.sql import functions as F

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.sinks import (
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    n = 8
    paths = write_training_shards(docs, out, n, key="doc_id")
    assert [p.rsplit("/", 1)[1] for p in paths] == [
        f"shard-{i:05d}.parquet" for i in range(n)
    ]

    expected = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(n)).cast("int").alias("s")
        ).collect()
    }
    total = 0
    for i, p in enumerate(paths):
        rows = spark.read.parquet(p).select("doc_id").collect()
        ids = [r["doc_id"] for r in rows]
        total += len(ids)
        assert ids == sorted(ids), f"shard {i} not ordered"
        assert all(expected[d] == i for d in ids), f"shard {i} membership"
    assert total == docs.count()

    # determinism: a second run reproduces identical bytes per shard
    out2 = str(tmp_path / "shards2")
    paths2 = write_training_shards(docs, out2, n, key="doc_id")
    for p1, p2 in zip(paths, paths2):
        with open(p1, "rb") as a, open(p2, "rb") as b:
            assert a.read() == b.read()


def test_compact_files_executes_the_bin_plan(spark, tmp_path):
    """Six small files at a 2-file target → three output files, all rows
    preserved, bin membership deterministic in filename order."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.sinks import (
        compact_files,
    )

    src = str(tmp_path / "small")
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/tmp_{i}")
    import glob as g
    import os

    os.makedirs(src, exist_ok=True)
    sizes = []
    for i in range(6):
        f = g.glob(f"{src}/tmp_{i}/part-*.parquet")[0]
        os.replace(f, f"{src}/file_{i}.parquet")
        sizes.append(os.path.getsize(f"{src}/file_{i}.parquet"))

    target = sizes[0] * 2  # ≈ two source files per bin
    out = str(tmp_path / "compacted")
    paths = compact_files(spark, src, out, target_bytes=target)
    assert len(paths) == 3
    assert [p.split("/")[-1] for p in paths] == [
        "compact-00000.parquet", "compact-00001.parquet", "compact-00002.parquet"
    ]
    total = spark.read.parquet(*paths).count()
    assert total == 60
    assert spark.read.parquet(paths[0]).count() == 20  # two files' rows per bin


def test_compact_files_oversized_input_skips_bins(spark, tmp_path):
    """One input ≥ 2× target jumps the greedy bin index by 2+ — the
    executor must grow the bin list to size (ADVICE r3: `if` grew it by
    one and raised IndexError) and skip the empty bins it leaves behind,
    keeping the planner's sparse bin ids in the output names."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.sinks import (
        compact_files,
    )
    import glob as g
    import os

    src = str(tmp_path / "mixed")
    os.makedirs(src, exist_ok=True)
    # file_0: 3000 rows (big), file_1: 10 rows (small)
    for i, rng in enumerate([(0, 3000), (3000, 3010)]):
        spark.range(*rng).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/tmp_{i}"
        )
        f = g.glob(f"{src}/tmp_{i}/part-*.parquet")[0]
        os.replace(f, f"{src}/file_{i}.parquet")

    big = os.path.getsize(f"{src}/file_0.parquet")
    target = big // 2  # big file spans ≥ 2 bins → next bin_idx jumps ≥ 2
    out = str(tmp_path / "compacted_mixed")
    paths = compact_files(spark, src, out, target_bytes=target)
    # two non-empty bins: bin 0 (big file), bin ≥2 (small file); no crash
    assert len(paths) == 2
    assert paths[0].endswith("compact-00000.parquet")
    assert int(paths[1].split("compact-")[1].split(".")[0]) >= 2
    assert spark.read.parquet(*paths).count() == 3010


def test_avro_is_jar_gated(spark):
    """spark-avro is external-module-only; absent jar → the honest
    NotImplementedError gate (the Iceberg/JDBC posture). If this test
    ever FAILS because avro resolved, implement the round trip —
    the gate is a probe, not a permanent exclusion."""
    import pytest as _pytest

    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.readers import (
        read_avro,
    )

    with _pytest.raises(NotImplementedError, match="avro"):
        read_avro(spark, "/nonexistent/_probe_")


def test_line_numbering_across_many_splits(spark, tmp_path):
    """``numbered_lines`` numbers lines in file order when the file is
    read in many scan splits, and ``chunked_lines`` assembles faithful
    (fused) chunks from them exactly as a Python model does."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.text import (
        chunked_lines,
        numbered_lines,
    )

    lines = [f"w{i % 13} " * (i % 5) + ("x" * (i % 3)) for i in range(10007)]
    p = tmp_path / "lines.txt"
    p.write_text("\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 8
        got = sorted((r["idx"], r["value"]) for r in numbered_lines(spark, str(p)).collect())
        assert got == list(enumerate(lines))
        chunks = sorted(map(tuple, chunked_lines(spark, str(p), 7, fuse_chunk_lines=True).collect()))
    finally:
        spark.conf.set(key, old)
    want = [(i // 7 + 1, "".join(lines[i : i + 7])) for i in range(0, len(lines), 7)]
    assert chunks == want
