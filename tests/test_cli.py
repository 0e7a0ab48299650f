"""End-to-end CLI: the three reference-parity pipelines chained over a
parquet warehouse, driven through the argparse surface."""

from dataflow_python_etl_spark import cli


def test_full_pipeline_chain(spark, airline_fixtures, tmp_path):
    wh = str(tmp_path / "lake")
    fx = airline_fixtures
    cli.main([
        "ingest",
        "--input", ",".join(fx[t]["csv"] for t in ("pasajero", "vuelo", "venta")),
        "--output", "pasajero,vuelo,venta",
        "--schemas", ",".join(fx[t]["schema"] for t in ("pasajero", "vuelo", "venta")),
        "--warehouse", wh,
    ])
    cli.main(["mart", "--warehouse", wh])
    cli.main(["compensation", "--warehouse", wh])

    prod = spark.read.parquet(f"{wh}/schema_prod")
    assert prod.count() == 8  # fact rows preserved end-to-end
    assert len(prod.columns) == 21
    vals = {r["compensacion"] for r in prod.select("compensacion").distinct().collect()}
    # 8 rows/flight → quota 0 everywhere → nothing assigned
    assert vals == {None}


def test_ingest_uses_bundled_schemas(spark, airline_fixtures, tmp_path):
    wh = str(tmp_path / "lake2")
    fx = airline_fixtures
    # no --schemas: resolved from packaged resources by table name
    cli.main([
        "ingest",
        "--input", fx["pasajero"]["csv"],
        "--output", "pasajero",
        "--warehouse", wh,
    ])
    df = spark.read.parquet(f"{wh}/pasajero")
    assert df.schema["telefono"].dataType.simpleString() == "bigint"


def test_sql_subcommand(spark, airline_fixtures, tmp_path, capsys):
    wh = str(tmp_path / "lake_sql")
    fx = airline_fixtures
    cli.main([
        "ingest",
        "--input", fx["pasajero"]["csv"],
        "--output", "pasajero",
        "--schemas", fx["pasajero"]["schema"],
        "--warehouse", wh,
    ])
    capsys.readouterr()
    cli.main([
        "sql", "--warehouse", wh,
        "--query", "SELECT count(*) AS n FROM pasajero",
    ])
    assert "n=7" in capsys.readouterr().out  # 8 CSV lines, 1 dirty row dropped by typed ingest
    # --output writes a queryable table
    cli.main([
        "sql", "--warehouse", wh,
        "--query", "SELECT dni FROM pasajero WHERE dni IS NOT NULL",
        "--output", "dnis",
    ])
    assert spark.read.parquet(f"{wh}/dnis").count() == 7
    # --output may name an INPUT table of the same statement: the
    # temp-and-swap write must not hit overwrite-while-reading, and
    # the result must be the pre-overwrite read
    cli.main([
        "sql", "--warehouse", wh,
        "--query", "SELECT dni FROM dnis WHERE dni <> '11111111-1'",
        "--output", "dnis",
    ])
    assert spark.read.parquet(f"{wh}/dnis").count() == 6


def test_compact_subcommand(spark, tmp_path, capsys):
    wh = str(tmp_path / "lake_cmp")
    # a fragmented table: 32 shuffle partitions -> many small files
    spark.range(1000).repartition(32).write.parquet(f"{wh}/frag")
    import glob
    n_before = len(glob.glob(f"{wh}/frag/*.parquet"))
    assert n_before > 10
    cli.main(["compact", "--warehouse", wh, "--table", "frag", "--target-file-mb", "128"])
    n_after = len(glob.glob(f"{wh}/frag/*.parquet"))
    assert n_after == 1  # 1000 longs << 128 MB
    assert spark.read.parquet(f"{wh}/frag").count() == 1000
    assert "-> 1 files" in capsys.readouterr().out

    # a hive-partitioned sink table with its replay ledger: compaction
    # keeps the literal partition dirs (no int re-inference of 007) and
    # carries the ledger through the swap
    import os

    part = f"{wh}/parted"
    for day in ("007", "012"):
        spark.range(100).repartition(8).write.parquet(f"{part}/day={day}")
    with open(f"{part}/_applied_batch.json", "w") as f:
        f.write('{"batch_id": 3}')
    cli.main(["compact", "--warehouse", wh, "--table", "parted"])
    assert sorted(d for d in os.listdir(part) if not d.startswith(("_", "."))) == [
        "day=007", "day=012"
    ]
    with open(f"{part}/_applied_batch.json") as f:
        assert f.read() == '{"batch_id": 3}'
    assert [len(glob.glob(f"{part}/day={d}/*.parquet")) for d in ("007", "012")] == [1, 1]
    assert spark.read.parquet(part).count() == 200
    assert "parted: 16 files" in capsys.readouterr().out


def test_profile_subcommand(spark, tmp_path, capsys):
    wh = str(tmp_path / "lake_prof")
    spark.createDataFrame(
        [(1, None), (2, "x")], "id: long, name: string"
    ).write.parquet(f"{wh}/t")
    cli.main(["profile", "--warehouse", wh, "--table", "t"])
    out = capsys.readouterr().out
    assert "id\tbigint\trows=2\tnulls=0" in out
    assert "name\tstring\trows=2\tnulls=1 (0.5)" in out


def test_vacuum_and_curate_subcommands(spark, tmp_path, capsys):
    import os
    import time

    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "lake_cur")
    os.makedirs(wh)
    # stale swap leftover (base table present, so it is collectable)
    os.makedirs(os.path.join(wh, "x"))
    stale = os.path.join(wh, "x.__tmp_dead")
    os.makedirs(stale)
    os.utime(stale, (time.time() - 90_000,) * 2)
    cli.main(["vacuum", "--warehouse", wh])
    assert "1 stale swap dirs removed" in capsys.readouterr().out
    assert not os.path.exists(stale)

    read_table(spark, "/root/testdata/sf0.001", "documents").write.parquet(
        os.path.join(wh, "documents")
    )
    cli.main([
        "curate", "--warehouse", wh, "--table", "documents",
        "--domain-col", "source", "--max-per-domain", "40",
    ])
    out = capsys.readouterr().out
    assert "survivors" in out
    curated = spark.read.parquet(os.path.join(wh, "curated"))
    assert 0 < curated.count() < 500
    assert set(curated.columns) == {"doc_id", "text", "quality", "n_tokens"}


def test_sql_subcommand_nanos_testdata(capsys):
    """Single-file .parquet tables with TIMESTAMP(NANOS) columns route
    through the catalog reader (plain spark.read.parquet would fail)."""
    cli.main([
        "sql", "--warehouse", "/root/testdata/sf0.001",
        "--query", "SELECT count(*) AS n, count(ts) AS n_ts FROM events",
    ])
    out = capsys.readouterr().out
    assert "n=1000" in out and "n_ts=1000" in out


def test_sql_output_onto_single_file_table(spark, tmp_path, capsys):
    """--output naming an existing single-file .parquet table must
    swap-replace THAT table (not crash, not create a shadowed sibling
    dir), and the swap leaves no tmp/bak leftovers."""
    import os
    import shutil

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    shutil.copy("/root/testdata/sf0.001/region.parquet", os.path.join(wh, "region.parquet"))
    cli.main([
        "sql", "--warehouse", wh,
        "--query", "SELECT r_regionkey, upper(r_name) AS r_name FROM region",
        "--output", "region",
    ])
    out = capsys.readouterr().out
    assert "region: 5 rows" in out
    # the single-file table was replaced in place (now a dir is fine,
    # but it must live at the resolved .parquet path with no leftovers)
    entries = sorted(os.listdir(wh))
    assert entries == ["region.parquet"]
    got = spark.read.parquet(os.path.join(wh, "region.parquet"))
    assert got.count() == 5
    assert {r["r_name"] for r in got.collect()} == {
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    }


def test_cli_chunk_split_dedup(spark, tmp_path, capsys):
    """The training-prep chain is drivable from the CLI: chunk+pack,
    leakage-proof split, near-dup pair report."""
    import os

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    docs.write.parquet(os.path.join(wh, "documents"))

    cli.main([
        "chunk", "--warehouse", wh, "--table", "documents",
        "--chunk-tokens", "64", "--overlap-tokens", "8", "--budget", "96",
    ])
    assert "chunks" in capsys.readouterr().out
    chunks = spark.read.parquet(os.path.join(wh, "chunks"))
    assert chunks.count() > 0 and "seq_id" in chunks.columns

    cli.main([
        "split", "--warehouse", wh, "--table", "chunks", "--group-col", "doc_id",
    ])
    assert "train" in capsys.readouterr().out
    splits = spark.read.parquet(os.path.join(wh, "splits"))
    from pyspark.sql import functions as F
    assert splits.groupBy("doc_id").agg(
        F.count_distinct("split").alias("k")
    ).where(F.col("k") > 1).count() == 0

    cli.main(["dedup", "--warehouse", wh, "--table", "documents"])
    assert "near-dup pairs" in capsys.readouterr().out
    assert spark.read.parquet(os.path.join(wh, "dup_pairs")).columns == [
        "doc_a", "doc_b", "jaccard",
    ]


def test_cli_bpe(spark, tmp_path, capsys):
    import os

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    read_table(spark, "/root/testdata/sf0.001", "documents").limit(60).write.parquet(
        os.path.join(wh, "documents")
    )
    cli.main(["bpe", "--warehouse", wh, "--table", "documents", "--merges", "30"])
    assert "learned" in capsys.readouterr().out
    enc = spark.read.parquet(os.path.join(wh, "bpe_encoded"))
    assert enc.count() == 60 and "n_bpe_tokens" in enc.columns
    merges = spark.read.parquet(os.path.join(wh, "bpe_encoded_merges"))
    assert merges.count() > 0 and merges.columns == ["rank", "a", "b"]


def test_cli_ivf_lifecycle(spark, tmp_path, capsys):
    """build -> stats -> append -> query, including the SQ8 flag."""
    import json
    import os

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    from pyspark.sql import functions as F
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(os.path.join(wh, "emb_a"))
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(os.path.join(wh, "emb_b"))
    emb.where(F.col("vec_id") < 5).write.parquet(os.path.join(wh, "queries"))

    cli.main(["ivf", "build", "--warehouse", wh, "--table", "emb_a", "--k", "4", "--int8"])
    assert "built" in capsys.readouterr().out
    cli.main(["ivf", "stats", "--warehouse", wh])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["cells"] <= 4 and not stats["stale"]
    cli.main(["ivf", "append", "--warehouse", wh, "--table", "emb_b", "--int8"])
    assert "appended" in capsys.readouterr().out
    cli.main(["ivf", "query", "--warehouse", wh, "--table", "queries", "--n-probe", "4"])
    assert "neighbor rows" in capsys.readouterr().out
    out = spark.read.parquet(os.path.join(wh, "neighbors"))
    assert out.columns == ["query_id", "neighbor_id", "cos_sim"]
    assert out.groupBy("query_id").count().where(F.col("count") > 3).count() == 0


def test_cli_ivf_pq(spark, tmp_path, capsys):
    """build --pq writes the sidecar-bearing PQ index; append re-uses
    the sidecar; query scores through reconstruction."""
    import os

    from pyspark.sql import functions as F

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.operators.similarity import PQ_SIDECAR
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(os.path.join(wh, "emb_a"))
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(os.path.join(wh, "emb_b"))
    emb.where(F.col("vec_id") < 5).write.parquet(os.path.join(wh, "queries"))

    cli.main(["ivf", "build", "--warehouse", wh, "--table", "emb_a", "--k", "4",
              "--pq", "--pq-m", "16", "--pq-ksub", "32"])
    assert "(pq)" in capsys.readouterr().out
    assert os.path.exists(os.path.join(wh, "ivf_index", PQ_SIDECAR))
    cli.main(["ivf", "append", "--warehouse", wh, "--table", "emb_b", "--pq"])
    assert "appended" in capsys.readouterr().out
    cli.main(["ivf", "query", "--warehouse", wh, "--table", "queries", "--n-probe", "4"])
    assert "neighbor rows" in capsys.readouterr().out
    out = spark.read.parquet(os.path.join(wh, "neighbors"))
    assert out.count() > 0
    import pytest

    with pytest.raises(SystemExit, match="mutually exclusive"):
        cli.main(["ivf", "build", "--warehouse", wh, "--table", "emb_a",
                  "--int8", "--pq"])


def test_cli_decontaminate(spark, tmp_path, capsys):
    """Round-5: decontamination is drivable from the CLI — flagged
    report + clean corpus, and clean ∪ flagged == input exactly."""
    import os

    from pyspark.sql import functions as F

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    docs.where(F.col("doc_id") % 25 != 0).write.parquet(os.path.join(wh, "corpus"))
    docs.where(F.col("doc_id") % 25 == 0).write.parquet(os.path.join(wh, "evalset"))

    cli.main([
        "decontaminate", "--warehouse", wh,
        "--table", "corpus", "--eval-table", "evalset",
    ])
    out = capsys.readouterr().out
    assert "contaminated docs flagged" in out

    corpus = spark.read.parquet(os.path.join(wh, "corpus"))
    clean = spark.read.parquet(os.path.join(wh, "decontaminated"))
    flagged = spark.read.parquet(os.path.join(wh, "decontaminated_flagged"))
    assert flagged.count() > 0 and clean.count() > 0
    assert clean.count() + flagged.count() == corpus.count()
    # disjoint and exhaustive over doc_id
    assert clean.join(flagged, "doc_id", "inner").count() == 0
    assert set(flagged.columns) == {"doc_id", "n_shingles", "n_overlap", "overlap_frac"}


def test_quality_search_mix_subcommands(spark, tmp_path, capsys):
    import os

    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "lake_qsm")
    os.makedirs(wh)
    read_table(spark, "/root/testdata/sf0.001", "documents").write.parquet(
        os.path.join(wh, "documents")
    )

    cli.main(["quality", "--warehouse", wh, "--table", "documents",
              "--output", "flags"])
    out = capsys.readouterr().out
    assert "rule_word_count:" in out and "passes:" in out
    flags = spark.read.parquet(os.path.join(wh, "flags"))
    assert flags.count() == 500 and "passes" in flags.columns

    cli.main(["search", "--warehouse", wh, "--table", "documents",
              "--terms", "table,vector,spark", "--top-k", "5"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 5
    scores = [float(l.split("\t")[1]) for l in lines]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0

    cli.main(["mix", "--warehouse", wh, "--table", "documents",
              "--weights", "en=2.0,zh=0.5", "--default-weight", "1.0"])
    out = capsys.readouterr().out
    assert "en:" in out and "max epoch 1" in out
    mixed = spark.read.parquet(os.path.join(wh, "mixture"))
    docs = spark.read.parquet(os.path.join(wh, "documents"))
    n_en_docs = docs.where("lang = 'en'").count()
    # en weight 2.0: exactly two replicas of every en doc
    assert mixed.where("lang = 'en'").count() == 2 * n_en_docs
    # default weight 1.0 strata keep one replica each
    n_fr = docs.where("lang = 'fr'").count()
    assert mixed.where("lang = 'fr'").count() == n_fr

    import pytest as _pt

    with _pt.raises(SystemExit, match="weights"):
        cli.main(["mix", "--warehouse", wh, "--table", "documents",
                  "--weights", "en2.0"])


def test_events_report_subcommand(spark, tmp_path, capsys):
    import os

    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "lake_evr")
    os.makedirs(wh)
    read_table(spark, "/root/testdata/sf0.001", "events").write.parquet(
        os.path.join(wh, "events")
    )
    cli.main(["events-report", "--warehouse", wh])
    out = capsys.readouterr().out
    assert "step 1 signup:" in out and "step 3 purchase:" in out
    assert "+0w:" in out  # cohort size row
    assert "-> " in out  # at least one transition
    assert "journey " in out  # top-paths line
    assert "anomalous buckets" in out
    assert "conversions, value" in out  # attribution rows
    assert "CUSUM-alarmed buckets" in out
    assert "time to convert" in out and "h: " in out
    assert "smoothed hourly level" in out and " buckets)" in out
    assert "robust outliers" in out and "flagged" in out


def test_cli_forget_and_shard(spark, tmp_path, capsys):
    """Governance + export surfaces: GDPR erasure audit and the
    hash-sharded training export, end-to-end from the CLI."""
    import os

    from pyspark.sql import functions as F

    from dataflow_python_etl_spark import cli
    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    ev = read_table(spark, "/root/testdata/sf0.001", "events").limit(400)
    ev.write.parquet(os.path.join(wh, "events"))
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    docs.write.parquet(os.path.join(wh, "documents"))

    uid = ev.first()["user_id"]
    n_hit = ev.where(F.col("user_id") == uid).count()
    cli.main([
        "forget", "--warehouse", wh, "--tables", "events:user_id",
        "--keys", str(uid),
    ])
    out = capsys.readouterr().out
    assert f"{n_hit} of 400 rows erased" in out
    left = spark.read.parquet(os.path.join(wh, "events"))
    assert left.where(F.col("user_id") == uid).count() == 0

    cli.main(["shard", "--warehouse", wh, "--n-shards", "4"])
    out = capsys.readouterr().out
    assert out.count("shard ") == 4 and "checksum" in out
    exported = spark.read.parquet(os.path.join(wh, "shards"))
    assert exported.count() == 200
    assert set(
        r["shard_id"] for r in exported.select("shard_id").distinct().collect()
    ) <= {0, 1, 2, 3}


def test_cli_search_index_lifecycle_and_overlap(spark, tmp_path, capsys):
    import os

    import pytest as _pt

    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "lake_sio")
    os.makedirs(wh)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    docs.where("doc_id % 2 = 0").write.parquet(os.path.join(wh, "docs_a"))
    docs.where("doc_id % 2 = 1").write.parquet(os.path.join(wh, "docs_b"))
    read_table(spark, "/root/testdata/sf0.001", "orders").write.parquet(
        os.path.join(wh, "orders")
    )

    idx = str(tmp_path / "postings")
    cli.main(["search", "--warehouse", wh, "--table", "docs_a",
              "--build-index", idx])
    assert "built" in capsys.readouterr().out
    cli.main(["search", "--warehouse", wh, "--table", "docs_b",
              "--append", idx])
    assert "500 docs" in capsys.readouterr().out
    # probe ≡ scan over the full corpus (the operator parity, via CLI)
    cli.main(["search", "--index", idx, "--terms", "table,vector,spark",
              "--top-k", "5"])
    probe_out = capsys.readouterr().out
    docs.write.parquet(os.path.join(wh, "docs_all"))
    cli.main(["search", "--warehouse", wh, "--table", "docs_all",
              "--terms", "table,vector,spark", "--top-k", "5"])
    assert capsys.readouterr().out == probe_out
    with _pt.raises(SystemExit, match="needs --terms"):
        cli.main(["search", "--index", idx])

    cli.main(["overlap", "--warehouse", wh, "--table", "orders",
              "--set-col", "o_orderpriority", "--key-col", "o_custkey",
              "--set-a", "1-URGENT", "--set-b", "2-HIGH"])
    out = capsys.readouterr().out
    assert "est_union=" in out and "jaccard_ppm=" in out


def test_cli_growth_and_rules(spark, tmp_path, capsys):
    """The growth ledger prints one |weeks|-sized report; rules prints
    top-k directed rules with ppm columns — both end-to-end through
    the CLI against driver-shaped tables."""
    import os

    from dataflow_python_etl_spark.sources.catalog import read_table

    wh = str(tmp_path / "lake_gr")
    os.makedirs(wh)
    read_table(spark, "/root/testdata/sf0.001", "events").write.parquet(
        os.path.join(wh, "events")
    )
    read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    ).write.parquet(os.path.join(wh, "lineitem"))

    cli.main(["growth", "--warehouse", wh])
    out = capsys.readouterr().out
    assert "week" in out and "resurrected" in out
    assert len([l for l in out.splitlines() if l and l[0].isdigit()]) >= 2

    cli.main(["rules", "--warehouse", wh, "--top-k", "5"])
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if "->" in l]
    assert 0 < len(lines) <= 5
    assert "conf_ppm=" in lines[0] and "lift_ppm=" in lines[0]
