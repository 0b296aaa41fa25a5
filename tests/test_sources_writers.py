"""Reader/writer facade tests (SURVEY.md §2.1/2.2) — file round trips on
tmp dirs, mirroring the reference's TestSequenceFile/TestMapFile
round-trip style."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_common_spark.sources.readers import (
    read_fixed_width,
    read_kv_text,
    read_multi,
    read_text,
    read_xml_records,
    sampled_scan_percent,
    sampled_scan_regex,
)
from hadoop_common_spark.sources.writers import (
    write_multiple_outputs,
    write_noop,
    write_partitioned,
    write_text_kv,
)


def test_read_text_and_glob(spark, tmp_path):
    (tmp_path / "a.txt").write_text("one\ntwo\n")
    (tmp_path / "b.log").write_text("three\n")
    assert read_text(spark, str(tmp_path)).count() == 3
    assert read_text(spark, str(tmp_path), glob="*.txt").count() == 2


def test_read_kv_text_splits_at_first_sep(spark, tmp_path):
    (tmp_path / "kv.txt").write_text("k1\tv1\tmore\nk2\n")
    rows = {r.key: r.value for r in read_kv_text(spark, str(tmp_path)).collect()}
    assert rows == {"k1": "v1\tmore", "k2": ""}


def test_read_fixed_width(spark, tmp_path):
    (tmp_path / "fw.txt").write_text("AAA11\nBBB22\n")
    rows = sorted(
        (r.name, r.num) for r in read_fixed_width(spark, str(tmp_path), {"name": 3, "num": 2}).collect()
    )
    assert rows == [("AAA", "11"), ("BBB", "22")]


def test_read_multi_tags_and_unions(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(2,), (3,)], ["x"])
    out = read_multi([(a, None), (b, lambda df: df.withColumn("x", F.col("x") * 10))])
    got = sorted((r.x, r.source_tag) for r in out.collect())
    assert got == [(1, 0), (20, 1), (30, 1)]


def test_read_xml_records(spark, tmp_path):
    (tmp_path / "x.xml").write_text("<r>alpha</r>junk<r>beta</r>")
    recs = sorted(r.record for r in read_xml_records(spark, str(tmp_path), "<r>", "</r>").collect())
    assert recs == ["alpha", "beta"]


def test_read_xml_records_multiline(spark, tmp_path):
    """Records spanning lines (the normal XML case) must not be dropped."""
    (tmp_path / "m.xml").write_text(
        "<rec>\n  <name>a</name>\n</rec>\nnoise\n<rec>\n  <name>b</name>\n</rec>\n"
    )
    recs = read_xml_records(spark, str(tmp_path), "<rec>", "</rec>").collect()
    assert len(recs) == 2
    assert sorted("a" in r.record or "b" in r.record for r in recs) == [True, True]


def test_read_kv_text_literal_separator(spark, tmp_path):
    """'|' must split as a literal byte, not as the regex alternation."""
    (tmp_path / "p.txt").write_text("k1|v1\nk2|v2|rest\n")
    back = {r.key: r.value for r in read_kv_text(spark, str(tmp_path), sep="|").collect()}
    assert back == {"k1": "v1", "k2": "v2|rest"}


def test_sampled_scans(spark):
    df = spark.range(1000).select(F.col("id"))
    frac = sampled_scan_percent(df, "id", 10).count()
    assert 50 <= frac <= 200  # ~10% of 1000, md5-deterministic
    assert sampled_scan_percent(df, "id", 10).count() == frac  # deterministic
    df2 = spark.createDataFrame([("apple",), ("banana",)], ["k"])
    assert sampled_scan_regex(df2, "k", "^a").count() == 1


def test_write_text_kv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], ["k", "v"])
    out = str(tmp_path / "out")
    write_text_kv(df, out, "k", "v")
    # part-file layout (FileOutputFormat contract)
    assert any(f.startswith("part-") for f in os.listdir(out))
    back = {r.key: r.value for r in read_kv_text(spark, out).collect()}
    assert back == {"k1": "v1", "k2": "v2"}


def test_write_partitioned_layout(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["part_key", "x"])
    out = str(tmp_path / "p")
    write_partitioned(df, out, ["part_key"])
    subdirs = {d for d in os.listdir(out) if d.startswith("part_key=")}
    assert subdirs == {"part_key=a", "part_key=b"}
    # partition pruning reads one dir
    assert spark.read.parquet(out).filter(F.col("part_key") == "a").count() == 1


def test_write_multiple_outputs(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["n", "s"])
    base = str(tmp_path / "multi")
    write_multiple_outputs(
        df,
        {"evens": (F.col("n") % 2 == 0, "parquet"), "odds": (F.col("n") % 2 == 1, "parquet")},
        base,
    )
    assert spark.read.parquet(f"{base}/evens").collect()[0].n == 2
    assert spark.read.parquet(f"{base}/odds").collect()[0].n == 1


def test_write_noop(spark):
    assert write_noop(spark.range(7).toDF("id")) == 7


def test_read_auto_sniffs_formats(spark, tmp_path):
    import json

    pq = tmp_path / "pq"
    spark.range(5).write.parquet(str(pq))
    jd = tmp_path / "jd"
    jd.mkdir()
    (jd / "a.json").write_text("\n".join(json.dumps({"x": i}) for i in range(3)))
    cd = tmp_path / "cd"
    cd.mkdir()
    (cd / "a.csv").write_text("1,alpha\n2,beta\n")

    from hadoop_common_spark.sources.readers import read_auto

    assert read_auto(spark, str(pq)).count() == 5
    assert sorted(r.x for r in read_auto(spark, str(jd)).collect()) == [0, 1, 2]
    assert read_auto(spark, str(cd)).count() == 2


def test_distcp_copies_bytes(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.bin").write_bytes(b"\x00\x01payload-a")
    (src / "b.bin").write_bytes(b"payload-b" * 1000)
    (src / "skip.txt").write_text("nope")
    dst = tmp_path / "dst"

    from hadoop_common_spark.sources.readers import distcp

    n = distcp(spark, str(src), str(dst), glob="*.bin", partitions=2)
    assert n == 2
    assert (dst / "a.bin").read_bytes() == (src / "a.bin").read_bytes()
    assert (dst / "b.bin").read_bytes() == (src / "b.bin").read_bytes()


def test_distcp_preserves_tree_and_chunks_large_files(spark, tmp_path):
    """Ranged-read form: same-basename files in different subtrees must
    not collide, and a file much larger than chunk_bytes is copied
    byte-identically through multiple ranged tasks."""
    src = tmp_path / "src"
    (src / "x").mkdir(parents=True)
    (src / "y").mkdir()
    (src / "x" / "same.bin").write_bytes(b"from-x")
    (src / "y" / "same.bin").write_bytes(b"from-y")
    big = bytes(range(256)) * 300  # 76800 bytes >> chunk_bytes below
    (src / "big.bin").write_bytes(big)
    dst = tmp_path / "dst"

    from hadoop_common_spark.sources.readers import distcp

    n = distcp(spark, str(src), str(dst), partitions=4, chunk_bytes=10_000)
    assert n == 3
    assert (dst / "x" / "same.bin").read_bytes() == b"from-x"
    assert (dst / "y" / "same.bin").read_bytes() == b"from-y"
    assert (dst / "big.bin").read_bytes() == big


def test_distcp_update_skips_and_recopies(spark, tmp_path):
    """-update semantics (CopyMapper.canSkip, CopyMapper.java:229-258):
    an unchanged destination is skipped (0 files copied on the second
    run); a modified source re-copies. Same-length-different-content is
    caught only under checksum=True, like the reference's checksum
    compare option."""
    import os
    import time

    from hadoop_common_spark.sources.readers import distcp

    src = tmp_path / "src"; dst = tmp_path / "dst"
    src.mkdir()
    (src / "a.bin").write_bytes(b"stable-payload")
    (src / "b.bin").write_bytes(b"will-change")
    assert distcp(spark, str(src), str(dst), update=True) == 2
    # second run: everything up to date -> nothing copied, bytes intact
    before = (dst / "a.bin").stat().st_mtime_ns
    assert distcp(spark, str(src), str(dst), update=True) == 0
    assert (dst / "a.bin").stat().st_mtime_ns == before  # truly untouched
    # length change -> re-copied
    (src / "b.bin").write_bytes(b"changed-and-longer")
    assert distcp(spark, str(src), str(dst), update=True) == 1
    assert (dst / "b.bin").read_bytes() == b"changed-and-longer"
    # same length, different content: skipped without checksum,
    # re-copied with checksum=True
    (src / "a.bin").write_bytes(b"STABLE-PAYLOAD")
    assert distcp(spark, str(src), str(dst), update=True) == 0
    assert distcp(spark, str(src), str(dst), update=True, checksum=True) == 1
    assert (dst / "a.bin").read_bytes() == b"STABLE-PAYLOAD"


def test_distcp_delete_removes_extraneous(spark, tmp_path):
    """-delete semantics: destination files with no source counterpart
    are removed; copied/skipped files survive."""
    from hadoop_common_spark.sources.readers import distcp

    src = tmp_path / "src"; dst = tmp_path / "dst"
    (src / "sub").mkdir(parents=True)
    (src / "keep.bin").write_bytes(b"keep")
    (src / "sub" / "nested.bin").write_bytes(b"nested")
    (dst / "sub").mkdir(parents=True)
    (dst / "stale.bin").write_bytes(b"stale")
    (dst / "sub" / "stale2.bin").write_bytes(b"stale2")
    distcp(spark, str(src), str(dst), update=True, delete=True)
    assert (dst / "keep.bin").read_bytes() == b"keep"
    assert (dst / "sub" / "nested.bin").read_bytes() == b"nested"
    assert not (dst / "stale.bin").exists()
    assert not (dst / "sub" / "stale2.bin").exists()


def test_distcp_delete_respects_glob_scope(spark, tmp_path):
    """A glob-scoped sync with -delete must only delete IN-SCOPE
    extraneous destination files — never out-of-scope files that still
    exist in the source (regression: the dst listing was unfiltered)."""
    from hadoop_common_spark.sources.readers import distcp

    src = tmp_path / "src"; dst = tmp_path / "dst"
    src.mkdir()
    (src / "a.bin").write_bytes(b"a")
    (src / "b.json").write_bytes(b"b")
    distcp(spark, str(src), str(dst))  # full copy: both land in dst
    (dst / "stale.bin").write_bytes(b"stale")
    distcp(spark, str(src), str(dst), glob="*.bin", update=True, delete=True)
    assert not (dst / "stale.bin").exists()  # in-scope extraneous: gone
    assert (dst / "b.json").read_bytes() == b"b"  # out-of-scope: untouched
    assert (dst / "a.bin").read_bytes() == b"a"


def test_sequence_file_roundtrip_and_sniff(spark, tmp_path):
    """SequenceFile read bridge (HC/io/SequenceFile.java 'SEQ' magic):
    write a real SequenceFile via the RDD API, read it back as a
    DataFrame, and confirm read_auto dispatches on the magic bytes."""
    from hadoop_common_spark.sources.readers import read_auto, read_sequence_file

    path = str(tmp_path / "seq")
    data = [(f"k{i}", f"v{i}") for i in range(100)]
    spark.sparkContext.parallelize(data, 3).saveAsSequenceFile(path)
    raw = (tmp_path / "seq").glob("part-*")
    assert any(p.read_bytes()[:3] == b"SEQ" for p in raw)  # real container

    df = read_sequence_file(spark, path)
    assert df.columns == ["key", "value"]
    assert sorted((r.key, r.value) for r in df.collect()) == sorted(data)
    auto = read_auto(spark, path)
    assert auto.count() == 100 and set(auto.columns) == {"key", "value"}


def test_jdbc_roundtrip_partitioned(spark, tmp_path):
    """End-to-end JDBC (DBInputFormat/DBOutputFormat,
    MRC/mapreduce/lib/db/DBInputFormat.java:317): write through Spark's
    JDBC sink into embedded Derby (ships with Spark), read back with the
    min/max partitioned-split strategy, and confirm the scan actually
    fans out into numPartitions range splits."""
    from hadoop_common_spark.sources.readers import read_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(0, 100).select(
        F.col("id").alias("ID"), (F.col("id") % 7).alias("V")
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "PAGEVIEW")
        .option("driver", driver)
        .save()
    )
    out = read_jdbc(
        spark, url, "PAGEVIEW",
        partition_column="ID", lower=0, upper=100, num_partitions=4,
        driver=driver,
    )
    assert out.rdd.getNumPartitions() == 4  # DataDrivenDBInputFormat splits
    assert sorted(r.ID for r in out.collect()) == list(range(100))
    # aggregate over the JDBC scan (the DBCountPageView shape)
    agg = {r.V: r.c for r in out.groupBy("V").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sum(agg.values()) == 100


def test_orc_roundtrip_and_sniff(spark, tmp_path):
    from hadoop_common_spark.sources.readers import read_auto
    from hadoop_common_spark.sources.writers import write_orc

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    path = str(tmp_path / "orc_out")
    write_orc(df, path)
    back = read_auto(spark, path)  # sniffed from the ORC magic bytes
    assert back.count() == 100
    assert {(r.id, r.v) for r in back.collect()} == {(i, 2 * i) for i in range(100)}


def test_compact_small_files(spark, tmp_path):
    from hadoop_common_spark.sources.writers import compact

    src = str(tmp_path / "small")
    # 40 tiny part-files
    spark.range(4000).repartition(40).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 40
    out = str(tmp_path / "compacted")
    n = compact(spark, src, out, target_file_bytes=10 * 1024 * 1024)
    assert n == 1  # tiny data -> one right-sized file
    assert len(glob.glob(out + "/*.parquet")) == 1
    assert spark.read.parquet(out).count() == 4000


def test_db_count_page_view_e2e(spark, tmp_path):
    """DBCountPageView (EX/DBCountPageView.java:412-420) end-to-end:
    pageview rows land in a JDBC table via write_jdbc (DBOutputFormat),
    the job reads them back with partitioned splits (DBInputFormat),
    aggregates views per URL, and writes the counts BACK to the database
    — the reference's verify() then checks totals, as we do here."""
    from hadoop_common_spark.sources.readers import read_jdbc
    from hadoop_common_spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/pvdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    views = spark.range(0, 300).select(
        F.col("id").alias("ID"),
        F.concat(F.lit("/page/"), (F.col("id") % 5).cast("string")).alias("URL"),
    )
    write_jdbc(views, url, "ACCESS", driver=driver)

    access = read_jdbc(
        spark, url, "ACCESS",
        partition_column="ID", lower=0, upper=300, num_partitions=4,
        driver=driver,
    )
    counts = access.groupBy("URL").agg(F.count(F.lit(1)).alias("PAGEVIEW"))
    write_jdbc(counts, url, "PAGEVIEW_COUNTS", driver=driver)

    back = read_jdbc(spark, url, "PAGEVIEW_COUNTS", driver=driver)
    got = {r.URL: r.PAGEVIEW for r in back.collect()}
    assert got == {f"/page/{i}": 60 for i in range(5)}


def test_mapfile_lookup_and_closest(spark):
    """MapFile.get/getClosest (HC/io/MapFile.java:674,692): the point
    lookup prunes to a single bucket (the plan's SelectedBucketsCount is
    the one-part-file read of MapFileOutputFormat.getEntry), and
    getClosest seeks the neighbouring key in either direction."""
    from hadoop_common_spark.sources.writers import (
        mapfile_get_closest,
        mapfile_lookup,
        write_sorted_bucketed,
    )

    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    # the planner only counts shuffle-elimination as a bucketing benefit;
    # for point lookups the bucket-pruned scan must be kept explicitly
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        # even keys only, so getClosest on an odd key must seek
        src = spark.range(0, 1000).select(
            (F.col("id") * 2).alias("k"), (F.col("id") * 20).alias("v")
        )
        write_sorted_bucketed(src, "mapfile_t", "k", "k", num_buckets=8)

        hit = mapfile_lookup(spark, "mapfile_t", "k", 440)
        plan = hit._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan
        assert [(r.k, r.v) for r in hit.collect()] == [(440, 4400)]

        after = mapfile_get_closest(spark, "mapfile_t", "k", 441)
        assert [(r.k, r.v) for r in after.collect()] == [(442, 4420)]
        before = mapfile_get_closest(spark, "mapfile_t", "k", 441, before=True)
        assert [(r.k, r.v) for r in before.collect()] == [(440, 4400)]
        # exact hit returns itself in both directions
        assert mapfile_get_closest(spark, "mapfile_t", "k", 440).first().k == 440
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS mapfile_t")


def test_sequence_file_roundtrip_write_then_read(spark, tmp_path):
    """write_sequence_file -> read_sequence_file -> read_auto all agree
    (the legacy-consumer handoff path)."""
    from hadoop_common_spark.sources.readers import read_auto, read_sequence_file
    from hadoop_common_spark.sources.writers import write_sequence_file

    df = spark.range(0, 100).selectExpr(
        "CAST(id AS STRING) AS k", "CONCAT('v', CAST(id AS STRING)) AS v"
    )
    path = str(tmp_path / "seqout")
    write_sequence_file(df, path, "k", "v")
    back = read_sequence_file(spark, path)
    rows = {(r.key, r.value) for r in back.collect()}
    assert rows == {(str(i), f"v{i}") for i in range(100)}
    auto = read_auto(spark, path)
    assert {(r.key, r.value) for r in auto.collect()} == rows


def test_small_files_bin_packed_into_few_partitions(spark, tmp_path):
    """CombineFileInputFormat parity (SURVEY §2.1 row 8, 'inherited'):
    Spark's file source bin-packs many small files into few input
    partitions (maxPartitionBytes + openCostInBytes packing) — 60 tiny
    files must NOT become 60 tasks."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(60):
        (d / f"f{i:02d}.txt").write_text(f"line {i}\n")
    df = spark.read.text(str(d))
    nparts = df.rdd.getNumPartitions()
    assert df.count() == 60
    # packing floor is parallelism-driven (bin size =
    # max(openCost, totalSize/defaultParallelism)): the contract is
    # strictly fewer partitions than files, floored at the core count —
    # never one task per tiny file
    assert nparts < 60, f"{nparts} partitions for 60 tiny files — no bin-packing"
    assert nparts <= spark.sparkContext.defaultParallelism


def test_parquet_write_commits_atomically(spark, tmp_path):
    """FileOutputCommitter parity (SURVEY §2.2 row 25, 'inherited'):
    a completed write leaves the _SUCCESS marker and no _temporary
    residue — the visible contract of the v1/v2 commit protocols.
    Written through writers.write_parquet, whose codec names the part
    files."""
    from hadoop_common_spark.sources.writers import write_parquet

    out = tmp_path / "committed"
    write_parquet(spark.range(100), str(out), compression="zstd")
    names = os.listdir(out)
    assert "_SUCCESS" in names
    assert not any(n.startswith("_temporary") for n in names)
    parts = [n for n in names if n.startswith("part-")]
    assert parts and all(n.endswith(".zstd.parquet") for n in parts)
    assert spark.read.parquet(str(out)).count() == 100
