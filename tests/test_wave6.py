"""Wave 6: trigram LM scoring, containment join, Z-order layout,
single-pass correlation, unpivot."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.dedup import containment_pairs
from m2_b3_market_data_pipeline_spark.operators.layout import (
    write_zordered,
    zorder_key,
)
from m2_b3_market_data_pipeline_spark.operators.text import trigram_lm_scores


def test_trigram_lm_uniform_text_scores_certainty(spark):
    """A corpus whose every prefix admits exactly one continuation has
    P=1 everywhere: avg log2 P must be 0."""
    df = spark.createDataFrame(
        [(1, "abababab"), (2, "abababababab")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in trigram_lm_scores(df).collect()}
    assert rows[1].n_trigrams == 6
    assert rows[1].avg_logp == 0.0
    assert rows[2].avg_logp == 0.0


def test_trigram_lm_gibberish_scores_below_typical(spark):
    """Docs made of corpus-typical trigrams outscore a one-off random
    string scored against the same self-trained model."""
    typical = "the cat sat on the mat " * 5
    rows = [(i, typical) for i in range(10)] + [(99, "zqxjkvbwpf mglrtyhn")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in trigram_lm_scores(df).collect()}
    assert got[99] < got[0]


def test_trigram_lm_short_docs_drop(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "abcd")], "doc_id long, text string")
    got = {r.doc_id for r in trigram_lm_scores(df).collect()}
    assert got == {2}


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment 1.0 in the
    short->long direction, well under 1.0 the other way."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, n=3, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(2, 1)] < 0.5


def test_containment_threshold_filters(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    got = containment_pairs(df, n=3, threshold=0.6).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2), (2, 1)}
    assert all(r.containment == 1.0 for r in got)


def test_zorder_key_interleaves_bits(spark):
    # x=0b11, y=0b01 -> even positions carry x (1,1), odd carry y (1,0):
    # bits 0,1,2 set -> 7; classic Morton example.
    row = (
        spark.createDataFrame([(3, 1)], "x long, y long")
        .select(zorder_key("x", "y", bits=4).alias("z"))
        .collect()[0]
    )
    assert row.z == 0b111
    # Locality: neighbors in both dims -> small z distance; far in one
    # dim -> large. (2,2) vs (3,3) interleave to 12 vs 15.
    vals = (
        spark.createDataFrame([(2, 2), (3, 3), (2, 30)], "x long, y long")
        .select(zorder_key("x", "y", bits=8).alias("z"))
        .collect()
    )
    z22, z33, z2_30 = (r.z for r in vals)
    assert abs(z33 - z22) < abs(z2_30 - z22)


def test_zorder_write_clusters_files(spark, sf_dir, tmp_path):
    """Range-partitioned + sorted write: per-file zval ranges must not
    overlap, which is exactly what lets parquet min/max stats prune."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        "l_orderkey", zorder_key("l_partkey", "l_suppkey").alias("zval")
    )
    out = str(tmp_path / "zordered")
    write_zordered(df, out, num_files=4)
    spans = []
    for r in (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("zval").alias("lo"), F.max("zval").alias("hi"))
        .collect()
    ):
        spans.append((r.lo, r.hi))
    spans.sort()
    assert len(spans) > 1
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_zorder_files_carry_stats_for_both_dims(spark, sf_dir, tmp_path):
    """The point of Z-order: each file covers a NARROW band of both
    key domains, so single-column predicates skip most files. Verify via
    parquet footer min/max on l_partkey."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        "l_partkey", "l_suppkey", zorder_key("l_partkey", "l_suppkey").alias("zval")
    )
    out = str(tmp_path / "z2")
    write_zordered(df, out, num_files=8)
    import glob

    widths = []
    domain_lo, domain_hi = None, None
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.read_metadata(f)
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        widths.append(hi - lo)
        domain_lo = lo if domain_lo is None else min(domain_lo, lo)
        domain_hi = hi if domain_hi is None else max(domain_hi, hi)
    domain = domain_hi - domain_lo
    # Every file's partkey band must be narrower than the full domain —
    # i.e. a partkey equality predicate can skip files.
    assert sum(w < domain for w in widths) >= len(widths) // 2


def test_correlation_matrix_single_pass(spark, sf_dir):
    """Self-correlation sanity + one-aggregate plan (a second scan of
    lineitem would show two parquet scans in the physical plan)."""
    from m2_b3_market_data_pipeline_spark.plans.stats_analytics import (
        correlation_matrix,
    )

    df = correlation_matrix(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    vals = {(r.col_a, r.col_b): r.pearson for r in df.collect()}
    assert len(vals) == 6
    assert all(-1.0 <= v <= 1.0 for v in vals.values())


def test_unpivot_round_trips_grouped_aggregate(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.relational import unpivot_metrics

    long = unpivot_metrics(spark, sf_dir)
    flags = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag"
    ).distinct().count()
    assert long.count() == flags * 3
    back = long.groupBy("l_returnflag").pivot("metric").agg(F.first("value"))
    assert set(back.columns) == {"l_returnflag", "sum_qty", "sum_price", "sum_disc_price"}


def test_perceptual_hash_properties(spark):
    from m2_b3_market_data_pipeline_spark.operators.dedup import simhash_near_pairs
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        attach_binary,
        perceptual_hash,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4  # 176 bytes
    rows = [
        (1, base),
        (2, base),                      # identical twin -> hamming 0
        (3, base[:-5] + "XXXXX"),       # small length-preserving edit
        (4, "z" * 30),                  # too short -> skipped
        (5, "".join(chr(65 + (i * 7) % 26) * 3 for i in range(40))),  # unrelated
    ]
    df = attach_binary(spark.createDataFrame(rows, "doc_id long, text string"))
    sigs = perceptual_hash(df)
    got = {r.doc_id: (r.simhash_lo, r.simhash_hi) for r in sigs.collect()}
    assert 4 not in got              # short payload skipped
    assert got[1] == got[2]          # determinism + identity
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(sigs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs           # perturbed twin within the radius
    assert (1, 5) not in pairs       # unrelated stays out


def test_phash_oracle_agrees_on_non_ascii(spark, tmp_path):
    """Engine agreement on NON-ASCII text: the oracle hashes the same
    byte stream as perceptual_hash (hex of the utf-8 encoding), so
    multi-byte characters — where byte length != char length — must not
    diverge the two engines. Guards the byte-domain contract the sf
    fixtures (ASCII-only) cannot exercise."""
    import duckdb

    from m2_b3_market_data_pipeline_spark.plans import all_queries

    base = "le renard brun café naïve jalapeño über 北京 東京 " * 4
    rows = [(i, base if i % 3 else base.replace("café", f"caf{i}")) for i in range(12)]
    sf = str(tmp_path / "sf_nonascii")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    sdf = all_queries.QUERIES["phash_near_dups"](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    odf = con.execute(all_queries.ORACLES["phash_near_dups"]).df()
    con.close()
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import _rowset

    scols, srows = _rowset(sdf)
    ocols, orows = _rowset(odf)
    assert scols == ocols and srows == orows
    assert len(srows) > 0  # the near-identical docs actually pair up
