"""Core ordering utilities and remaining mapper option paths."""

from smashed_spark.core.order import with_order_key, with_row_index


def test_with_row_index_contiguous(spark):
    df = spark.createDataFrame(
        [(x,) for x in "edcba"], "v: string"
    ).repartition(3)
    out = with_row_index(df, order_by=["v"]).collect()
    by_v = {r.v: r["__row_id__"] for r in out}
    # contiguous 0-based ids following the requested order
    assert sorted(by_v.values()) == [0, 1, 2, 3, 4]
    assert by_v["a"] == 0 and by_v["e"] == 4


def test_with_row_index_no_order(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "v: bigint")
    out = with_row_index(df)
    ids = sorted(r["__row_id__"] for r in out.collect())
    assert ids == list(range(100))


def test_with_row_index_stays_in_catalyst(spark):
    """No RDD round-trip: the plan must not re-serialize rows through
    Python (ExistingRDD scan) and the offset join must broadcast."""
    df = spark.range(50).withColumnRenamed("id", "v").repartition(4)
    out = with_row_index(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # two ExistingRDD scans are expected: the KB-sized offsets table
    # feeding the broadcast, and the input's localCheckpoint pin (JVM
    # InternalRow blocks — NOT a Python serialization round-trip, which
    # the BatchEvalPython assertion above rules out).  Each node appears
    # twice in formatted explain: tree + detail.
    assert plan.count("Scan ExistingRDD") <= 4, plan
    ids = sorted(r["__row_id__"] for r in out.collect())
    assert ids == list(range(50))


def test_with_order_key(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "v: bigint")
    out = with_order_key(df, ["v"]).orderBy("v").collect()
    assert [r["__row_id__"] for r in out] == [0, 1, 2]


def test_enumerate_without_broadcast(spark):
    from smashed_spark.operators.fields import EnumerateFieldMapper

    df = spark.createDataFrame(
        [(0, "x"), (1, "y"), (2, "x")], "i: bigint, v: string"
    )
    out = (
        EnumerateFieldMapper(
            "v", destination_field="e", order_by=["i"],
            broadcast_dictionary=False,
        )
        .map(df)
        .orderBy("i")
        .collect()
    )
    assert [r.e for r in out] == [0, 1, 0]


def test_nested_cache_brackets(spark, tmp_path):
    from smashed_spark import Pipeline
    from smashed_spark.operators.debug import MockMapper
    from smashed_spark.sources.cache import EndCachingMapper, StartCachingMapper

    df = spark.createDataFrame([(i,) for i in range(5)], "a: bigint")
    pipe = Pipeline(
        [
            StartCachingMapper(cache_dir=str(tmp_path / "outer")),
            MockMapper(1),
            StartCachingMapper(cache_dir=str(tmp_path / "inner")),
            MockMapper(2),
            EndCachingMapper(),
            EndCachingMapper(),
        ]
    )
    out = sorted(r.a for r in pipe.map(df).collect())
    assert out == [i + 3 for i in range(5)]
    # second run hits the outer cache
    out2 = sorted(r.a for r in pipe.map(df).collect())
    assert out2 == out


import pytest


@pytest.mark.parametrize("scheme", ["bare", "file"])
def test_cache_roundtrip_schemes(spark, tmp_path, scheme):
    """The cache resolves paths through the Hadoop FileSystem API so
    cache dirs can live on any scheme (s3a://, hdfs://, file:). Locally
    exercise the bare-path and explicit file:-URI forms; the second run
    must READ the checkpoint (proven by tampering with it)."""
    from smashed_spark.operators.debug import MockMapper
    from smashed_spark.sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        run_with_cache,
    )

    base = str(tmp_path / "cache")
    cache_dir = base if scheme == "bare" else f"file://{base}"
    df = spark.createDataFrame([(i,) for i in range(5)], "a: bigint")
    pipe = [
        StartCachingMapper(cache_dir=cache_dir),
        MockMapper(1),
        EndCachingMapper(),
    ]
    out1 = sorted(r.a for r in run_with_cache(pipe, df).collect())
    assert out1 == [1, 2, 3, 4, 5]

    # overwrite the checkpoint: a second run must return the tampered
    # rows, proving it read the cache rather than recomputing
    import glob

    (ckpt,) = glob.glob(f"{base}/*/*")
    spark.createDataFrame([(99,)], "a: bigint").write.mode(
        "overwrite"
    ).parquet(ckpt)
    out2 = [r.a for r in run_with_cache(pipe, df).collect()]
    assert out2 == [99]


def test_cache_miss_on_changed_config(spark, tmp_path):
    """A changed segment config (different mapper argument) must MISS:
    its fingerprint addresses a NEW checkpoint while the old one stays
    untouched — the property that makes stale-cache reuse impossible."""
    import glob

    from smashed_spark.operators.debug import MockMapper
    from smashed_spark.sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        run_with_cache,
    )

    base = str(tmp_path / "cache")
    df = spark.createDataFrame([(i,) for i in range(5)], "a: bigint")

    def pipe(k):
        return [
            StartCachingMapper(cache_dir=base),
            MockMapper(k),
            EndCachingMapper(),
        ]

    out1 = sorted(r.a for r in run_with_cache(pipe(1), df).collect())
    assert out1 == [1, 2, 3, 4, 5]
    ckpts1 = set(glob.glob(f"{base}/*/*"))
    assert len(ckpts1) == 1

    out2 = sorted(r.a for r in run_with_cache(pipe(7), df).collect())
    assert out2 == [7, 8, 9, 10, 11]
    ckpts2 = set(glob.glob(f"{base}/*/*"))
    assert len(ckpts2) == 2 and ckpts1 < ckpts2  # old checkpoint intact
    # and the changed config re-reads ITS OWN checkpoint, not the old
    out3 = sorted(r.a for r in run_with_cache(pipe(7), df).collect())
    assert out3 == out2


def test_cache_key_shared_by_rereads_of_unchanged_files(spark, tmp_path):
    """The dataset half of the cache key: two separate reads of the
    same parquet path share it, so a re-run HITS (proven by tampering
    with the checkpoint); a different file with the same schema and
    rows, a rewritten file, and different output names all miss."""
    import glob

    from pyspark.sql import functions as F

    from smashed_spark.operators.debug import MockMapper
    from smashed_spark.sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        dataset_fingerprint,
        run_with_cache,
    )

    p, q = str(tmp_path / "p"), str(tmp_path / "q")
    rows = spark.createDataFrame([(i,) for i in range(5)], "a: bigint")
    rows.coalesce(1).write.parquet(p)
    rows.coalesce(1).write.parquet(q)

    def fp(path, *, where="a >= 0", name="a"):
        df = spark.read.parquet(path).filter(where)
        return dataset_fingerprint(df.select(F.col("a").alias(name)))

    assert fp(p) == fp(p)
    assert fp(q) != fp(p)
    assert fp(p, where="a >= 1") != fp(p)
    assert fp(p, name="b") != fp(p)

    base = str(tmp_path / "cache")
    pipe = [StartCachingMapper(cache_dir=base), MockMapper(1), EndCachingMapper()]
    out1 = sorted(r.a for r in run_with_cache(pipe, spark.read.parquet(p)).collect())
    assert out1 == [1, 2, 3, 4, 5]
    (ckpt,) = glob.glob(f"{base}/*/*")
    spark.createDataFrame([(99,)], "a: bigint").write.mode(
        "overwrite"
    ).parquet(ckpt)
    out2 = [r.a for r in run_with_cache(pipe, spark.read.parquet(p)).collect()]
    assert out2 == [99]  # a fresh read of p found the checkpoint

    before = fp(p)
    rows.filter("a < 4").coalesce(1).write.mode("overwrite").parquet(p)
    assert fp(p) != before
    out3 = sorted(r.a for r in run_with_cache(pipe, spark.read.parquet(p)).collect())
    assert out3 == [1, 2, 3, 4]  # the rewritten file missed


def test_cache_key_sees_past_truncated_plan_text(spark, tmp_path):
    """Plans over the same file that differ only where the plan's tree
    string is cut (past ``maxToStringFields`` of a wide projection or
    of one expression's arguments) or where its JSON form is silent (a
    cast's eval mode) get different keys."""
    from pyspark.sql import functions as F

    from smashed_spark.core.fingerprint import dataset_fingerprint

    p = str(tmp_path / "p")
    spark.createDataFrame([(i,) for i in range(5)], "x: bigint").write.parquet(p)

    def wide(k):
        df = spark.read.parquet(p)
        for i in range(29):
            df = df.withColumn(f"c{i}", F.col("x") * 2)
        return df.withColumn("c29", F.col("x") * k)

    def array(last):  # an expression's own argument list is cut too
        items = [F.col("x") + i for i in (*range(29), last)]
        return spark.read.parquet(p).select(F.array(*items).alias("a"))

    def cast(expr):
        return spark.read.parquet(p).selectExpr(f"{expr}(x as int) as y")

    for build, a, b in [(wide, 2, 3), (array, 100, 101), (cast, "cast", "try_cast")]:
        assert dataset_fingerprint(build(a)) == dataset_fingerprint(build(a))
        assert dataset_fingerprint(build(a)) != dataset_fingerprint(build(b))


def test_cache_key_covers_dataframe_held_by_a_mapper(spark, tmp_path):
    """A DataFrame argument of a mapper is part of the segment key, not
    just its schema: the same input files decontaminated against a
    second benchmark of the same schema miss the first run's
    checkpoint, and the first benchmark re-read hits it."""
    import glob

    from pyspark.sql import functions as F

    from smashed_spark.functions.textstats import DecontaminateMapper
    from smashed_spark.sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        run_with_cache,
    )

    docs_p = str(tmp_path / "docs")
    rows = [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    docs.withColumn("words", F.split("text", " ")).write.parquet(docs_p)
    for i, (doc_id, _) in enumerate(rows):
        spark.read.parquet(docs_p).filter(F.col("doc_id") == doc_id).write.parquet(
            str(tmp_path / f"bench{i}")
        )
    base = str(tmp_path / "cache")

    def flagged(i):
        bench = spark.read.parquet(str(tmp_path / f"bench{i}"))
        pipe = [
            StartCachingMapper(cache_dir=base),
            DecontaminateMapper(bench, shingle_size=8),
            EndCachingMapper(),
        ]
        out = run_with_cache(pipe, spark.read.parquet(docs_p)).collect()
        return sorted(r.doc_id for r in out if r.contaminated)

    assert flagged(0) == [1]
    assert flagged(1) == [2]  # a stale hit would answer [1]
    assert len(glob.glob(f"{base}/*/*")) == 2
    assert flagged(0) == [1]
    assert len(glob.glob(f"{base}/*/*")) == 2  # the re-read hit


def test_cache_key_unshareable_before_python_or_in_memory_data(
    spark, tmp_path
):
    """Python code before the bracket (a UDF, mapInPandas) is not
    identified by its plan text, and in-memory rows are not files, so
    those plans never share a key between two separate DataFrames —
    while one DataFrame still finds its own key again."""
    from pyspark.sql import functions as F

    from smashed_spark.sources.cache import dataset_fingerprint

    p = str(tmp_path / "p")
    spark.createDataFrame([(i,) for i in range(5)], "a: bigint").write.parquet(p)
    plus_one = F.udf(lambda x: x + 1, "bigint")
    local = spark.createDataFrame([(7,)], "a: bigint")
    builders = [
        lambda: spark.read.parquet(p).withColumn("b", plus_one("a")),
        lambda: spark.read.parquet(p).mapInPandas(
            lambda it: it, "a bigint"
        ),
        lambda: spark.read.parquet(p).unionByName(local),
    ]
    for build in builders:
        df = build()
        assert dataset_fingerprint(df) == dataset_fingerprint(df)
        assert dataset_fingerprint(build()) != dataset_fingerprint(df)


def test_cache_and_loader_over_remote_scheme(spark, tmp_path):
    """Non-``file`` Hadoop scheme parity (reference tests/test_s3.py:
    loaders and cache work against a remote object store).  moto/minio
    aren't installable here, so mount a ``viewfs://`` table backed by a
    local dir — resolution still goes through the full Hadoop
    FileSystem stack (URI -> FS class -> mount resolution), exactly the
    path an s3a:// cache dir would take.

    Covers: cache round-trip (checkpoint written+read via the remote
    scheme, hit proven by tampering) and CsvLoaderMapper reading
    remote-scheme paths from a paths column.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.cachemnt.link./store",
        f"file:{tmp_path}",
    )
    remote = "viewfs://cachemnt/store"

    from smashed_spark.operators.debug import MockMapper
    from smashed_spark.sources.cache import (
        EndCachingMapper,
        StartCachingMapper,
        run_with_cache,
    )

    df = spark.createDataFrame([(i,) for i in range(5)], "a: bigint")
    pipe = [
        StartCachingMapper(cache_dir=f"{remote}/cache"),
        MockMapper(1),
        EndCachingMapper(),
    ]
    out1 = sorted(r.a for r in run_with_cache(pipe, df).collect())
    assert out1 == [1, 2, 3, 4, 5]
    import glob

    (ckpt_local,) = glob.glob(f"{tmp_path}/cache/*/*")
    rel = ckpt_local.replace(str(tmp_path), "", 1)
    spark.createDataFrame([(99,)], "a: bigint").write.mode(
        "overwrite"
    ).parquet(f"{remote}{rel}")  # tamper THROUGH the remote scheme
    out2 = [r.a for r in run_with_cache(pipe, df).collect()]
    assert out2 == [99]

    # loader: csv files addressed by viewfs:// paths in a column
    from smashed_spark.sources.loaders import CsvLoaderMapper

    (tmp_path / "c1.csv").write_text("x,y\n1,a\n2,b\n")
    (tmp_path / "c2.csv").write_text("x,y\n3,c\n")
    paths_df = spark.createDataFrame(
        [(f"{remote}/c1.csv",), (f"{remote}/c2.csv",)], "p: string"
    )
    out = CsvLoaderMapper("p").map(paths_df)
    assert sorted((r.x, r.y) for r in out.collect()) == [
        ("1", "a"),
        ("2", "b"),
        ("3", "c"),
    ]
