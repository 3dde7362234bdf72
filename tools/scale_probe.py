"""Scale probe: measure how the engine's headline operators behave as
data grows 1× → 10× → 30× beyond sf0.1 (600k → 18M lineitem rows),
plus a manufactured hot-key skew-join stress with AQE on vs off.

Writes derived data to a scratch dir (never touches /root/testdata)
and prints one JSON line per experiment. Results are summarized in
SCALING.md.

Usage: python tools/scale_probe.py [--factors 1,10,30] [--keep]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from ethiopia_legal_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def replicate(spark, src: str, table: str, factor: int, out: str, key_cols: dict):
    """factor-fold replication with shifted keys so join cardinalities
    scale realistically (copy i gets keys offset by i * max_key)."""
    df = spark.read.parquet(f"{src}/{table}.parquet")
    maxes = {c: df.agg(F.max(c)).collect()[0][0] + 1 for c in key_cols}
    parts = []
    for i in range(factor):
        p = df
        for c in key_cols:
            p = p.withColumn(c, F.col(c) + F.lit(i * maxes[c]))
        parts.append(p)
    out_df = parts[0]
    for p in parts[1:]:
        out_df = out_df.unionByName(p)
    # write with row-group-sized files so scans parallelize like a real table
    out_df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
        f"{out}/{table}.parquet"
    )


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def q1(spark, d):
    li = spark.read.parquet(f"{d}/lineitem.parquet")
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_d = (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(price_d * disc_d).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def join_agg(spark, d):
    o = spark.read.parquet(f"{d}/orders.parquet")
    li = spark.read.parquet(f"{d}/lineitem.parquet")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("q"))
    )


def window_topk(spark, d):
    from pyspark.sql import Window

    o = spark.read.parquet(f"{d}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return o.withColumn("rn", F.row_number().over(w)).where("rn <= 3")


def dedup_hash(spark, d):
    li = spark.read.parquet(f"{d}/lineitem.parquet")
    return (
        li.select(
            F.sha2(
                F.concat_ws("|", "l_orderkey", "l_linenumber", "l_shipdate"), 256
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where("c > 1")
    )


def run_noop(df):
    df.write.format("noop").mode("overwrite").save()


def skew_stress(spark, base: str, out: str):
    """Hot-key join: 50% of a 6M-row fact hits ONE key. Compare AQE
    skew-join on vs off."""
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    fact = li.withColumn(
        "k",
        F.when(F.rand(42) < 0.5, F.lit(0)).otherwise(
            (F.rand(43) * 100000).cast("long")
        ),
    ).select("k", "l_quantity")
    fact = fact.unionByName(fact).unionByName(fact)  # ~1.8M rows @ sf0.1 x3
    dim = spark.range(100001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    fact.write.mode("overwrite").parquet(f"{out}/skew_fact.parquet")
    dim.write.mode("overwrite").parquet(f"{out}/skew_dim.parquet")
    f_ = spark.read.parquet(f"{out}/skew_fact.parquet")
    d_ = spark.read.parquet(f"{out}/skew_dim.parquet")

    def join_run():
        run_noop(
            f_.join(d_.hint("merge"), "k")  # force SMJ so skew matters
            .groupBy("grp")
            .agg(F.sum("l_quantity").alias("s"))
        )

    times = {}
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe)
        if aqe == "true":
            # the default split threshold is 256 MB — sized for real
            # clusters; scale it down so the local hot partition
            # (tens of MB) actually exercises the skew-split path
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m"
            )
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m"
            )
        join_run()  # warm
        times[f"aqe_{aqe}"] = timed(join_run)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    return times


def big_skew(spark, out: str) -> dict:
    """60M-row fact, 50% on ONE key (~480 MB hot partition — above the
    DEFAULT 256 MB AQE skew threshold). SMJ + groupBy, AQE on vs off.
    Measured 2026-08-13: aqe_true 6.3s vs aqe_false 13.7s (2.2×), with
    `skew=true` on the join in the executed adaptive plan."""
    fact = spark.range(60_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1_000_000)
        .alias("k"),
        (F.rand(7) * 100).alias("v"),
    )
    fact.write.mode("overwrite").parquet(f"{out}/bigfact")
    dim = spark.range(1_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    dim.write.mode("overwrite").parquet(f"{out}/bigdim")
    f_ = spark.read.parquet(f"{out}/bigfact")
    d_ = spark.read.parquet(f"{out}/bigdim")

    def run():
        run_noop(
            f_.join(d_.hint("merge"), "k").groupBy("grp").agg(F.sum("v").alias("s"))
        )

    res = {}
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe)
        run()  # warm
        res[f"aqe_{aqe}"] = timed(run)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    joined = f_.join(d_.hint("merge"), "k").select("grp", "v")
    joined.foreach(lambda r: None)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    res["skew_marker"] = "skew=true" in plan
    return res


def bloom_probe(spark, out: str) -> dict:
    """Runtime Bloom-filter pruning on a forced shuffle join: a 60M-row
    fact joins a dimension filtered to ~1% selectivity. Broadcast is
    disabled (the 100 TB regime), so without the runtime filter every
    fact row shuffles; with it, might_contain() drops ~99% before the
    exchange. Reports wall time with the filter on vs off."""
    fact = spark.range(60_000_000).select(
        (F.col("id") % 6_000_000).alias("k"), (F.rand(11) * 100).alias("v")
    )
    fact.write.mode("overwrite").parquet(f"{out}/bloomfact")
    dim = spark.range(6_000_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("bucket"),
        (F.col("id") % 7).alias("grp"),
    )
    dim.write.mode("overwrite").parquet(f"{out}/bloomdim")
    f_ = spark.read.parquet(f"{out}/bloomfact")
    d_ = spark.read.parquet(f"{out}/bloomdim").where(F.col("bucket") == 0)  # 1%

    def run():
        run_noop(f_.join(d_, "k").groupBy("grp").agg(F.sum("v").alias("s")))

    res = {}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    # the creation side is a FILTERED scan: Catalyst's size estimate for
    # it is the unfiltered file size (no column stats), which exceeds
    # the 10MB default gate — raise it so estimate-vs-actual mismatch
    # doesn't silently disable the filter (on a real warehouse, ANALYZE
    # TABLE column stats make the default gate work as intended)
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "200MB"
    )
    for bloom in ("true", "false"):
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", bloom)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0" if bloom == "true" else "10GB",
        )
        run()  # warm
        res[f"bloom_{bloom}"] = timed(run)
    # plan marker: the injected filter is visible in the optimized plan
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    j = f_.join(d_, "k").groupBy("grp").agg(F.sum("v").alias("s"))
    res["bloom_marker"] = "might_contain" in (
        j._jdf.queryExecution().optimizedPlan().toString()
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    return res


def gapfill_probe(spark, out: str) -> dict:
    """LOCF gap-fill strategy shootout at scale: 100k users x 365-day
    span, ~3M observed daily rows densified to 36.5M. The textbook
    plan (dense spine LEFT JOIN daily + last_value IGNORE NULLS
    window) shuffles the 36.5M-row spine for the join AND again for
    the window; the segment-explode plan (lead() + one explode of
    per-observation (day,value) runs, operators/relational7.py) never
    joins and shuffles the 3M observed rows once. Same output rows,
    verified."""
    from pyspark.sql import Window

    n_users, n_days, obs = 100_000, 365, 30
    (
        spark.range(n_users * obs)
        .select(
            (F.col("id") % n_users).alias("user_id"),
            F.expr(
                f"date_add(DATE'2024-01-01',"
                f" CAST((id * 2654435761) % {n_days} AS INT))"
            ).alias("day"),
            (F.rand(5) * 100).cast("decimal(14,2)").alias("v"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v").alias("day_value"))
        .write.mode("overwrite")
        .parquet(f"{out}/gap_daily")
    )
    daily = spark.read.parquet(f"{out}/gap_daily")

    def join_variant():
        bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        spine = (
            daily.select("user_id")
            .distinct()
            .crossJoin(F.broadcast(bounds))
            .select(
                "user_id",
                F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
            )
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return spine.join(daily, ["user_id", "day"], "left").select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("locf_value"),
        )

    def segment_variant():
        bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        w = Window.partitionBy("user_id").orderBy("day")
        segs = daily.crossJoin(F.broadcast(bounds)).select(
            "user_id", "day", "day_value", "lo", "hi",
            F.lead("day").over(w).alias("day_next"),
            F.row_number().over(w).alias("rn"),
        )
        run = F.expr(
            """
            concat(
              CASE WHEN rn = 1 AND day > lo
                   THEN transform(sequence(lo, date_sub(day, 1), interval 1 day),
                                  d -> struct(d AS day,
                                              CAST(NULL AS DECIMAL(24,2)) AS v))
                   ELSE array() END,
              transform(sequence(day, coalesce(date_sub(day_next, 1), hi),
                                 interval 1 day),
                        d -> struct(d AS day, day_value AS v)))
            """
        )
        return segs.select("user_id", F.explode(run).alias("s")).select(
            "user_id",
            F.col("s.day").alias("day"),
            F.col("s.v").cast("double").alias("locf_value"),
        )

    res = {}
    for name, fn in (("spine_join", join_variant), ("segment_explode", segment_variant)):
        run_noop(fn())  # warm
        res[name] = timed(lambda: run_noop(fn()))
    res["rows_equal"] = join_variant().count() == segment_variant().count()
    return res


def analytics_probe(spark, scratch: str) -> list[dict]:
    """Product-analytics suite scaling: funnel / retention / transition
    matrix over replicated events at 1× / 10× / 100× (100k → 10M rows).

    user_id and event_id shift per copy, so USER cardinality scales
    with the data while the 30-day window stays fixed — the realistic
    growth axis for a behavioral pipeline (more users, same horizon).
    Every stage shuffles on user_id, so this measures whether the
    per-user reduction keeps the joins dimension-sized as users grow.
    """
    from ethiopia_legal_etl_spark.operators.relational12 import (
        event_transition_matrix,
        funnel_signup_purchase_7d,
        retention_cohort_weekly,
    )

    builders = {
        "funnel": funnel_signup_purchase_7d,
        "retention": retention_cohort_weekly,
        "transitions": event_transition_matrix,
    }
    out = []
    for factor in (1, 10, 100):
        if factor == 1:
            d = SF_DIR
        else:
            d = f"{scratch}/ev_x{factor}"
            replicate(
                spark, SF_DIR, "events", factor, d,
                {"user_id": 1, "event_id": 1},
            )
        for name, b in builders.items():
            run_noop(b(spark, d))  # warm
            sec = timed(lambda: run_noop(b(spark, d)))
            out.append(
                {
                    "exp": f"analytics_{name}",
                    "factor": factor,
                    "rows": 100_000 * factor,
                    "sec": sec,
                }
            )
    return out


def neardup_probe(spark, scratch: str) -> list[dict]:
    """Banded MinHash near-dup vs the all-pairs baseline as the corpus
    grows 1× / 4× / 16× (2k → 32k docs).

    Each replica's tokens get a copy-specific prefix, so cross-copy
    Jaccard is 0 and the TRUE near-dup structure scales linearly — the
    honest regime for comparing candidate-generation cost: banding's
    candidates grow ~linearly (bucket collisions), all-pairs grows
    n²/|blocks| regardless of how many true pairs exist. The all-pairs
    arm is skipped at 16× (projected ≫ the probe budget — that is the
    point)."""
    from ethiopia_legal_etl_spark.operators.dedup import (
        allpairs_jaccard_blocked,
        banded_jaccard_pairs,
    )

    base_n = 2000
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < base_n)
        .select("doc_id", "text", "lang")
    )
    out = []
    for factor in (1, 4, 16):
        parts = []
        for i in range(factor):
            parts.append(
                base.select(
                    (F.col("doc_id") + F.lit(i * base_n)).alias("doc_id"),
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ).alias("text"),
                    "lang",
                )
            )
        docs = parts[0]
        for p in parts[1:]:
            docs = docs.unionByName(p)
        path = f"{scratch}/docs_x{factor}"
        docs.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)

        n_banded = banded_jaccard_pairs(docs).count()  # warm + pair count
        banded_sec = timed(lambda: run_noop(banded_jaccard_pairs(docs)))
        rec = {
            "exp": "neardup_banded",
            "factor": factor,
            "docs": base_n * factor,
            "sec": banded_sec,
            # pairs the banded generator DETECTS at >=0.5 (banding
            # recall < 1 at the threshold; not ground truth)
            "detected_pairs": n_banded,
        }
        out.append(rec)
        if factor <= 4:
            run_noop(allpairs_jaccard_blocked(docs, "lang"))  # warm
            ap_sec = timed(lambda: run_noop(allpairs_jaccard_blocked(docs, "lang")))
            out.append(
                {
                    "exp": "neardup_allpairs",
                    "factor": factor,
                    "docs": base_n * factor,
                    "sec": ap_sec,
                }
            )
    return out


def guards_probe(spark, scratch: str) -> list[dict]:
    """Corpus-guard scaling (VERDICT r3 #6): the one operator family
    whose cost is an exploded n-gram/chunk stream shuffle.

    - contamination_ngram_overlap runs on PLAIN replication (same text,
      doc_ids shifted by a MULTIPLE OF 97 — the operator selects its
      benchmark docs by doc_id % 97 == 0, so a 97-aligned shift keeps
      every copy's benchmark docs the same residue class and the same
      texts): the benchmark's distinct trigram set stays constant (the
      realistic regime — benchmarks don't grow with the corpus) while
      the corpus-side trigram stream grows linearly; the broadcast of
      the bench set must stay flat.
    - dedup_chunk_boilerplate runs on COPY-PREFIXED replication (each
      replica's tokens carry a copy tag): the distinct-chunk frequency
      table grows linearly WITH the corpus — the honest stress for the
      'deliberately never broadcast' shuffle join on chunk hash.
    """
    from ethiopia_legal_etl_spark.operators.textguard import (
        contamination_ngram_overlap,
        dedup_chunk_boilerplate,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    # 97-aligned shift: keeps doc_id % 97 stable across copies, so the
    # contamination benchmark (doc_id % 97 == 0) selects the SAME texts
    # in every replica
    shift = ((base_n + 96) // 97) * 97
    out = []
    for factor in (1, 10, 30):
        plain_d = f"{scratch}/guards_plain_x{factor}"
        pfx_d = f"{scratch}/guards_pfx_x{factor}"
        parts_plain, parts_pfx = [], []
        for i in range(factor):
            shifted = base.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * shift)
            )
            parts_plain.append(shifted)
            parts_pfx.append(
                shifted.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ),
                )
            )
        for parts, d in ((parts_plain, plain_d), (parts_pfx, pfx_d)):
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
        run_noop(contamination_ngram_overlap(spark, plain_d))  # warm
        sec_c = timed(lambda: run_noop(contamination_ngram_overlap(spark, plain_d)))
        out.append(
            {
                "exp": "guard_contamination",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec_c,
            }
        )
        run_noop(dedup_chunk_boilerplate(spark, pfx_d))  # warm
        sec_b = timed(lambda: run_noop(dedup_chunk_boilerplate(spark, pfx_d)))
        out.append(
            {
                "exp": "guard_boilerplate",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec_b,
            }
        )
    return out


def corpusops_probe(spark, scratch: str) -> list[dict]:
    """Paragraph-dedup scaling in its two real-world regimes:

    - COPY-PREFIXED replication (distinct corpus growth): the block
      stream AND the distinct-block key space grow linearly — the
      window's per-key group stays ~constant, so wall time should
      track the shuffle volume ~linearly.
    - PLAIN replication (duplicate-heavy growth, the regime the
      operator exists for): the block stream grows linearly but the
      distinct-key space stays FIXED, so every block value's window
      group grows ×factor. Keep-first only ever emits one winner per
      value, so reducer output stays bounded; this arm checks that
      per-key group growth (the skew-shaped hazard) doesn't go
      super-linear thanks to AQE and the rank's early truncation.
    """
    from ethiopia_legal_etl_spark.operators.corpusops import paragraph_dedup

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    base_n = base.count()
    out = []
    for factor in (1, 10, 30):
        for regime in ("prefixed", "plain"):
            parts = []
            for i in range(factor):
                shifted = base.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * base_n)
                )
                if regime == "prefixed":
                    shifted = shifted.withColumn(
                        "text",
                        F.concat(
                            F.lit(f"c{i}_"),
                            F.regexp_replace("text", " ", f" c{i}_"),
                        ),
                    )
                parts.append(shifted)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            path = f"{scratch}/para_{regime}_x{factor}"
            df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(path)
            docs = spark.read.parquet(path)
            run_noop(paragraph_dedup(docs))  # warm
            sec = timed(lambda: run_noop(paragraph_dedup(docs)))
            out.append(
                {
                    "exp": f"paragraph_dedup_{regime}",
                    "factor": factor,
                    "docs": base_n * factor,
                    "sec": sec,
                }
            )
    # composed curation pipeline on copy-prefixed replicas (needs the
    # full documents schema on disk: lang/source drive the cap strata)
    from ethiopia_legal_etl_spark.operators.corpusops import (
        corpus_curation_pipeline,
    )

    full = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for factor in (1, 10, 30):
        parts = []
        for i in range(factor):
            p = full.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
            if i > 0:
                p = p.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ),
                )
            parts.append(p)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        d = f"{scratch}/cur_x{factor}"
        df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        run_noop(corpus_curation_pipeline(spark, d))  # warm
        sec = timed(lambda: run_noop(corpus_curation_pipeline(spark, d)))
        out.append(
            {
                "exp": "curation_pipeline",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec,
            }
        )
    # BPE training, corpus axis: corpus grows, the word-frequency table
    # it trains on is Zipf-bounded — the driver merge loop's cost stays
    # ~flat; only the one corpus shuffle that builds the table scales.
    # Plain replication (same vocabulary at every factor = the honest
    # regime: natural-language vocab grows ~log n, not ~n).
    from ethiopia_legal_etl_spark.operators.corpusops import bpe_train_merges

    for factor in (1, 10, 30):
        d = SF_DIR
        if factor > 1:
            # NOT the prefixed curation replicas (cur_x*): prefixes
            # inflate vocab linearly. Build plain replicas instead.
            d = f"{scratch}/bpe_x{factor}"
            parts = [
                full.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
                for i in range(factor)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
        import time as _t

        t0 = _t.monotonic()
        n_m = bpe_train_merges(spark, d, 6).count()
        sec = round(_t.monotonic() - t0, 3)
        out.append(
            {
                "exp": "bpe_train_6_merges",
                "factor": factor,
                "docs": base_n * factor,
                "merges": n_m,
                "sec": sec,
            }
        )
    # Quality-model scorer (r5): stateless zero-shuffle row expression
    # — wall must track the scan (~linear in docs, no shuffle knee).
    # Reuses the plain bpe_x replicas (same text, shifted ids).
    from ethiopia_legal_etl_spark.operators.quality import (
        score_documents_stateless,
    )

    for factor in (1, 10, 30):
        d = SF_DIR if factor == 1 else f"{scratch}/bpe_x{factor}"
        docs = spark.read.parquet(f"{d}/documents.parquet")
        run_noop(score_documents_stateless(docs))  # warm
        sec = timed(lambda: run_noop(score_documents_stateless(docs)))
        out.append(
            {
                "exp": "quality_score_stateless",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec,
            }
        )
    # BPE training, VOCAB axis (r5): fixed corpus, growing merge count.
    # The r4 design ran 2 Spark jobs per merge (linear driver traffic);
    # the r5 trainer collects once and iterates driver-side, so wall
    # time must grow far sublinearly in merges (the Spark part is
    # constant; only the in-memory merge loop grows). The sf corpus has
    # only 31 distinct tokens (~138 possible merges), so this axis gets
    # a synthetic rich-vocabulary corpus: 4000 distinct seeded-random
    # words — enough structure for 1024 real merges.
    import random as _rnd

    from ethiopia_legal_etl_spark.operators.corpusops import bpe_train_list

    rng = _rnd.Random(0x5EED)
    vocab = sorted(
        {
            "".join(
                rng.choice("abcdefghijklmnopqrst")
                for _ in range(rng.randint(4, 14))
            )
            for _ in range(4000)
        }
    )
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(40)))
        for i in range(2000)
    ]
    rich = f"{scratch}/bpe_rich"
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        8
    ).write.mode("overwrite").parquet(f"{rich}/documents.parquet")
    for n_merges in (8, 64, 256, 1024):
        import time as _t

        t0 = _t.monotonic()
        got = bpe_train_list(spark, rich, n_merges)
        sec = round(_t.monotonic() - t0, 3)
        out.append(
            {
                "exp": "bpe_train_vocab_axis",
                "factor": 1,
                "n_merges": n_merges,
                "merges_learned": len(got),
                "sec": sec,
            }
        )
    return out




# Module-level so tests/test_bench_contract.py can import the exact
# list instead of regex-scraping the source (ADVICE r12 #3: the old
# `entries = \[` regex matched the FIRST such literal in the file and
# would silently gate the wrong list if another was added above it).
CODEC_PROBE_ENTRIES = (
    "multimodal_decode_jpeg",
    "multimodal_decode_audio_compressed",
    "multimodal_video_frame_sample",
    "multimodal_decode_png",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "multimodal_decode_mpeg1",
    "warc_ingest_extract",
    "warc_to_text_pipeline",
    "html_main_text",
)


def codecs_probe(spark, scratch: str) -> list[dict]:
    """Real-codec decode scaling: the four compressed-codec registry
    entries (JPEG, mu-law+IMA audio, MJPEG-AVI frame sampling, PNG)
    are shuffle-free synth -> decode mapInPandas pipelines, so wall
    time should track document count ~linearly — no shuffle, no
    skew-shaped hazard, per-payload work fixed by the doc_id
    formulas. A super-linear reading here would mean Arrow batch
    overheads or per-task fixed costs dominate; linear confirms the
    decode family is embarrassingly parallel, which is the 100 TB
    design claim (self-contained payloads/blocks/frames)."""
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    qs = all_queries()
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    entries = list(CODEC_PROBE_ENTRIES)
    out = []
    for factor in (1, 10, 30):
        if factor == 1:
            d = SF_DIR
        else:
            d = f"{scratch}/codecs_x{factor}"
            parts = [
                base.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
                for i in range(factor)
            ]
            rep = parts[0]
            for p in parts[1:]:
                rep = rep.unionByName(p)
            rep.repartition(max(8, factor)).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
        for name in entries:
            run_noop(qs[name].builder(spark, d))  # warm
            sec = timed(lambda: run_noop(qs[name].builder(spark, d)))
            out.append(
                {"exp": "codec_decode", "entry": name, "factor": factor,
                 "docs": base_n * factor, "sec": sec}
            )
    return out


def codec_volume_probe(spark) -> list[dict]:
    """Payload-VOLUME scaling for the audio decode path (VERDICT r11
    #5): codecs_probe above scales document COUNT at fixed bytes/doc;
    this scales BYTES PER DOCUMENT at fixed count — volume points
    (1, 10, 50) for the audio pair and (1, 4) for MPEG-1 — because
    decode cost is bytes-proportional CPU — the same class that grew
    8.2x at 30x in the dedup_hash probe. Reports rows/sec/core and
    MB/sec/core for the decode stage alone (synth cost measured
    separately and subtracted), which is what partition sizing needs:
    a partition of B MB of compressed audio takes B / (MB/s/core)
    seconds on one core, so the maxPartitionBytes / repartition choice
    follows directly. Results pinned in SCALING.md §codec-volume."""
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.g711 import (
        decode_compressed_wav,
        ima_encode_block,
        write_ima_wav,
        write_mulaw_wav,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n_docs = docs.count()
    cores = spark.sparkContext.defaultParallelism
    out = []
    # 1x sits in the per-task-overhead regime (decode wall ~= Arrow +
    # scheduling floor); 10x/50x reach the bytes-proportional regime
    # the partition-sizing guidance is derived from
    for vol in (1, 10, 50):
        def synth(batches, vol=vol):
            for pdf in batches:
                ids = pdf["doc_id"].tolist()
                mu, ima = [], []
                for i in ids:
                    enc = bytes(
                        (i * 13 + j * 7) % 256
                        for j in range(vol * (50 + i % 40))
                    )
                    mu.append(write_mulaw_wav(enc, 8000 * (1 + i % 2)))
                    c, spb = i % 100 - 50, 1 + (64 - 4) * 2
                    blocks = [
                        ima_encode_block([c] * spb, 64)
                        for _ in range(vol * (1 + i % 3))
                    ]
                    ima.append(write_ima_wav(blocks, 8000, 64))
                yield pd.DataFrame(
                    {"doc_id": ids, "mu": mu, "ima": ima}
                )

        media = docs.mapInPandas(
            synth, schema="doc_id long, mu binary, ima binary"
        )

        def decode(batches):
            for pdf in batches:
                rows = []
                for doc_id, mu, ima in zip(
                    pdf["doc_id"], pdf["mu"], pdf["ima"]
                ):
                    m = decode_compressed_wav(bytes(mu))
                    a = decode_compressed_wav(bytes(ima))
                    rows.append(
                        (doc_id, sum(m["samples"]), sum(a["samples"]))
                    )
                yield pd.DataFrame(
                    rows, columns=["doc_id", "mu_sum", "ima_sum"]
                )

        decoded = media.mapInPandas(
            decode, schema="doc_id long, mu_sum long, ima_sum long"
        )
        payload_mb = (
            media.select(
                (F.length("mu") + F.length("ima")).alias("b")
            ).agg(F.sum("b")).collect()[0][0] / 1e6
        )
        # synth-only floor: same pipeline minus the decode stage.
        # 4 runs, median of last 3 (bench.py methodology): the first
        # Python-stage run of a session pays daemon spawn + module
        # import across all workers, and a single warm run does not
        # reliably absorb it (observed: a 6.5 s vol=1 reading vs
        # 1.6 s at vol=10 before this was median-ized).
        def med(df) -> float:
            runs = [timed(lambda: run_noop(df)) for _ in range(4)]
            steady = sorted(runs[1:])
            return steady[len(steady) // 2]

        synth_sec = med(media)
        full_sec = med(decoded)
        dec_sec = max(full_sec - synth_sec, 1e-3)
        out.append(
            {
                "exp": "codec_volume",
                "volume": vol,
                "docs": n_docs,
                "payload_mb": round(payload_mb, 1),
                "synth_sec": synth_sec,
                "full_sec": full_sec,
                "decode_sec": dec_sec,
                "rows_per_sec_core": round(n_docs / dec_sec / cores, 1),
                "mb_per_sec_core": round(payload_mb / dec_sec / cores, 3),
            }
        )

    # Same experiment for the heaviest Python-stage decoder: MPEG-1
    # Layer I (parse_layer1 walks a self-delimiting frame stream, so
    # volume = frames per doc). 1000-doc subset: the full 5000-doc
    # entry runs ~10 s and 16 measured runs would dominate the probe;
    # per-byte throughput is doc-count-independent (map-only stage).
    from ethiopia_legal_etl_spark.functions.mpeg1 import parse_layer1
    from ethiopia_legal_etl_spark.operators.multimodal import synth_l1_frame

    mdocs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .where(F.col("doc_id") < 1000)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    m_n = mdocs.count()
    for vol in (1, 4):
        def msynth(batches, vol=vol):
            for pdf in batches:
                ids = pdf["doc_id"].tolist()
                frames = [
                    b"".join(
                        synth_l1_frame(i + j * 7919) for j in range(vol)
                    )
                    for i in ids
                ]
                yield pd.DataFrame({"doc_id": ids, "frame": frames})

        mmedia = mdocs.mapInPandas(
            msynth, schema="doc_id long, frame binary"
        )

        def mdecode(batches):
            for pdf in batches:
                rows = []
                for doc_id, frame in zip(pdf["doc_id"], pdf["frame"]):
                    tot = 0
                    for f in parse_layer1(bytes(frame)):
                        for s in f["subbands"]:
                            tot += sum(s["codes"])
                    rows.append((doc_id, tot))
                yield pd.DataFrame(rows, columns=["doc_id", "code_sum"])

        mdecoded = mmedia.mapInPandas(
            mdecode, schema="doc_id long, code_sum long"
        )
        m_mb = (
            mmedia.select(F.length("frame").alias("b"))
            .agg(F.sum("b")).collect()[0][0] / 1e6
        )
        synth_sec = med(mmedia)
        full_sec = med(mdecoded)
        dec_sec = max(full_sec - synth_sec, 1e-3)
        out.append(
            {
                "exp": "codec_volume_mpeg1",
                "volume": vol,
                "docs": m_n,
                "payload_mb": round(m_mb, 1),
                "synth_sec": synth_sec,
                "full_sec": full_sec,
                "decode_sec": dec_sec,
                "rows_per_sec_core": round(m_n / dec_sec / cores, 1),
                "mb_per_sec_core": round(m_mb / dec_sec / cores, 3),
            }
        )
    return out


def ingest_probe(spark) -> list[dict]:
    """End-to-end ingest throughput: the reference's architecture (one
    serial per-record Python loop, fetch_legal_docs.py:32-96) vs the
    engine's partitioned mapInPandas pipeline — with IDENTICAL injected
    fetch/extract stubs in both arms, so the measured difference is the
    execution architecture, not the I/O. The stub models a 4 ms network
    RTT and a zlib-decompress extraction cost per document."""
    import zlib

    from ethiopia_legal_etl_spark.operators.ingest import ingest_pipeline

    n_serial, n_spark = 2000, 8000
    payload = zlib.compress(("word " * 400).encode())

    def fake_fetch(url: str):
        time.sleep(0.004)  # simulated network RTT
        return 200, "application/pdf", payload

    def fake_extract(body: bytes):
        words = zlib.decompress(bytes(body)).decode().split(" ")
        return [" ".join(words[i::7]) for i in range(7)]

    # arm 1: the reference's shape — serial loop, one record at a time.
    # Its rate is constant in n (no fixed overhead to amortize), so a
    # 2k-doc run measures the steady-state docs/sec exactly.
    t0 = time.perf_counter()
    serial_docs = []
    for url in (f"https://example.test/vol{i:05d}.pdf" for i in range(n_serial)):
        status, ctype, body = fake_fetch(url)
        if "application/pdf" not in ctype:
            continue
        pages = fake_extract(body)
        content = "\n".join(p for p in pages if p)
        if not content.strip():
            continue
        serial_docs.append((url, content))
    serial_sec = time.perf_counter() - t0
    serial_rate = len(serial_docs) / serial_sec

    # arm 2: the engine — same stubs through the partitioned pipeline,
    # at 8k docs so the ~2 s fixed job overhead amortizes (the regime
    # any real backfill runs in).
    links_df = spark.createDataFrame(
        [(f"https://example.test/vol{i:05d}.pdf",) for i in range(n_spark)],
        "url string",
    )
    done = spark.createDataFrame([], "base_name string")

    def run():
        docs, _rejects = ingest_pipeline(
            links_df,
            done,
            fetcher=fake_fetch,
            extractor=fake_extract,
            ingest_date="2026-01-01",
            fetch_partitions=32,
        )
        run_noop(docs)

    run()  # warm (ships the package zip, starts python workers)
    spark_sec = timed(run)
    spark_rate = n_spark / spark_sec
    return [
        {
            "exp": "ingest_throughput",
            "serial_docs": n_serial,
            "serial_sec": round(serial_sec, 2),
            "serial_docs_per_sec": round(serial_rate, 1),
            "spark_docs": n_spark,
            "spark_sec": spark_sec,
            "spark_docs_per_sec": round(spark_rate, 1),
            "rate_ratio": round(spark_rate / serial_rate, 1),
        }
    ]


def selection_probe(spark, scratch: str) -> list[dict]:
    """Data-selection operator scaling (operators/selection.py): DSIR
    two-pass scoring, snapshot anti-join dedup, hash shard export, and
    PQ encode+ADC+re-rank at 1x/10x/30x. Documents replicate
    copy-prefixed (distinct content growth — the regime where the
    anti-join and the weight table actually work); embeddings
    replicate with a deterministic per-copy perturbation so vectors
    are not bit-identical. PQ codebooks train ONCE on the base corpus
    (the bounded-sample regime a 100 TB deployment uses) and the probe
    times the encode+query path only."""
    import ethiopia_legal_etl_spark.operators.selection as sel_mod

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    emb_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb_n = emb_base.count()
    books = sel_mod.train_pq_codebooks(spark, emb_base)
    out = []
    for factor in (1, 10, 30):
        d = f"{scratch}/selection_x{factor}"
        parts, eparts = [], []
        for i in range(factor):
            p = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
            if i > 0:
                p = p.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ),
                )
            parts.append(p)
            e = emb_base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(i * emb_n)
            )
            if i > 0:
                e = e.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x: (x + F.lit(float(i) * 1e-3)).cast("float"),
                    ),
                )
            eparts.append(e)
        df, ef = parts[0], eparts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        for p in eparts[1:]:
            ef = ef.unionByName(p)
        df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        ef.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        for name in (
            "dsir_importance_select",
            "dedup_incremental_snapshot",
            "shard_export_balance",
        ):
            fn = getattr(sel_mod, name)
            run_noop(fn(spark, d))  # warm
            sec = timed(lambda: run_noop(fn(spark, d)))
            out.append(
                {
                    "exp": name,
                    "factor": factor,
                    "docs": base_n * factor,
                    "sec": sec,
                }
            )
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        run_noop(sel_mod.pq_query(spark, emb, books))  # warm
        sec = timed(lambda: run_noop(sel_mod.pq_query(spark, emb, books)))
        out.append(
            {
                "exp": "pq_encode_query",
                "factor": factor,
                "vecs": emb_n * factor,
                "sec": sec,
            }
        )
    return out


def emvocab_probe(spark, scratch: str) -> list[dict]:
    """Unigram EM loop, BOTH axes crossed (VERDICT r10 #5): corpus
    {1x, 10x copy-prefixed replicas — distinct words grow with the
    factor} x vocab {1x = seed 64/vocab 48, 10x = seed 640/vocab 480},
    with the trainer's `stats` instrumentation recording per-EM-round
    wall seconds AND the driver-collected row counts at each of the
    three collect sites (operators/unigram.py). The claim under test:
    every collect is vocab-bounded (<= alphabet + seed_size), FLAT in
    corpus size — the property that lets the loop run against 100 TB
    with a driver that only ever holds the model."""
    from ethiopia_legal_etl_spark.operators import unigram as uni_mod

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    out = []
    for factor in (1, 10):
        d = f"{scratch}/emvocab_x{factor}"
        parts = []
        for i in range(factor):
            p = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
            if i > 0:
                p = p.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ),
                )
            parts.append(p)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        for vfactor, seed_size, vocab_size in ((1, 64, 48), (10, 640, 480)):
            kw = dict(seed_size=seed_size, vocab_size=vocab_size)
            uni_mod.unigram_train_table(spark, d, **kw)  # warm
            stats: dict = {}
            sec = timed(
                lambda: uni_mod.unigram_train_table(spark, d, stats=stats, **kw)
            )
            out.append(
                {
                    "exp": "unigram_em_vocab",
                    "corpus_factor": factor,
                    "vocab_factor": vfactor,
                    "docs": base_n * factor,
                    "seed_size": seed_size,
                    "sec": sec,
                    "seed_sec": stats["seed_sec"],
                    "seed_rows": stats["seed_rows"],
                    "alphabet": stats["alphabet"],
                    "em_rounds": stats["em_rounds"],
                    "collect_bound": stats["alphabet"] + seed_size,
                    "bound_holds": all(
                        r["collect_rows"] <= stats["alphabet"] + seed_size
                        for r in stats["em_rounds"]
                    ),
                }
            )
    return out


def tokenizer_probe(spark, scratch: str) -> list[dict]:
    """Unigram-LM tokenizer scaling (operators/unigram.py): full train
    (seed + 2 EM iterations) and Viterbi encode at 1x/10x/30x document
    replicas. Copies are copy-prefixed per word, so the DISTINCT-word
    table — the E-step's actual input — grows with the factor (the
    axis the mapInPandas E-step parallelizes over), not just the row
    count; the vocabulary broadcast stays V-bounded throughout."""
    from ethiopia_legal_etl_spark.operators import unigram as uni_mod

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    out = []
    for factor in (1, 10, 30):
        d = f"{scratch}/tokenizer_x{factor}"
        parts = []
        for i in range(factor):
            p = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
            if i > 0:
                p = p.withColumn(
                    "text",
                    F.concat(
                        F.lit(f"c{i}_"),
                        F.regexp_replace("text", " ", f" c{i}_"),
                    ),
                )
            parts.append(p)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        uni_mod.unigram_train_table(spark, d)  # warm
        sec = timed(lambda: uni_mod.unigram_train_table(spark, d))
        out.append(
            {
                "exp": "unigram_train",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec,
            }
        )
        run_noop(uni_mod.unigram_encode_tokens(spark, d))  # warm
        sec = timed(lambda: run_noop(uni_mod.unigram_encode_tokens(spark, d)))
        out.append(
            {
                "exp": "unigram_encode",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec,
            }
        )
    return out


def textir_probe(spark, scratch: str) -> list[dict]:
    """r6-late text/IR operator scaling: BM25 retrieval, bigram PMI,
    Stupid-Backoff LM scoring, and winnowing fingerprints at 1x/10x/30x
    document replicas (same text, new doc_ids — the corpus-growth axis).
    The claim under test: corpus cost grows ~linearly while every
    intermediate the driver/broadcast path touches stays VOCAB-bounded
    (uni/bi tables, df stats, query set) or row-local (winnowing)."""
    from ethiopia_legal_etl_spark.operators import textguard as tg
    from ethiopia_legal_etl_spark.operators import textstats as ts

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    builders = {
        "bm25_topk": ts.retrieval_bm25_topk,
        "pmi_bigrams": ts.cooccurrence_pmi_bigrams,
        "lm_stupid_backoff": tg.lm_stupid_backoff,
        "winnowing": ts.winnowing_fingerprints,
    }
    out = []
    for factor in (1, 10, 30):
        d = f"{scratch}/textir_x{factor}"
        parts = [
            base.withColumn("doc_id", F.col("doc_id") + F.lit(i * base_n))
            for i in range(factor)
        ]
        df = parts[0]
        for p_ in parts[1:]:
            df = df.unionByName(p_)
        df.repartition(max(8, factor * 2)).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        for name, builder in builders.items():
            run_noop(builder(spark, d))  # warm
            sec = timed(lambda: run_noop(builder(spark, d)))
            out.append(
                {
                    "exp": name,
                    "factor": factor,
                    "docs": base_n * factor,
                    "sec": sec,
                }
            )
    return out



def substr_volume_probe(spark, scratch: str, volumes=(1, 10, 40)):
    """Document-LENGTH scaling for the ExactSubstr accounting
    (dedup_substring_fraction; VERDICT r12 #2) — the complement of
    substr_skew_probe below (key distribution) and of the r8 doc-count
    probes: here bytes PER DOCUMENT scale (1, 10, 40)x at fixed doc
    count; 50x pushed the 4-runs-per-point
    sweep past a 10-minute budget and 10x already sits in the linear
    regime (9.1x wall for 10x bytes, first measurement), so 40x is the
    plateau confirmation — because every stage of the pipeline is
    grams-proportional (gram-gen codegen, the 8-byte-digest shuffle,
    the count groupBy, the join back — ~(tokens-7) grams per doc).
    NOTE the cost class:
    unlike the codec probes this path has NO Python stage — the whole
    pipeline is JVM codegen + two digest-keyed shuffles — so the
    MB/s/core here prices codegen + shuffle, not pandas decode.

    Synthesis keeps the work profile honest: repeat r of a doc's
    token stream gets a per-repeat suffix (tok -> tok~r), so distinct
    grams scale ~volume (the count table grows with the corpus, as a
    real longer corpus's would) while cross-doc duplicate structure is
    preserved per repeat (docs sharing grams at 1x share the suffixed
    grams in every repeat). Repeating text verbatim instead would make
    every interior gram a within-doc duplicate and hold the count
    table at 1x — a cheaper shuffle profile than real data.

    Output per volume: corpus MB, gram count, wall sec (median of 3
    after a warm run), MB/s/core and Mgrams/s/core for partition
    sizing: a partition of B MB of text costs B / (MB/s/core) seconds
    on one core at the large-volume plateau. Results pinned in
    SCALING.md §substr-volume.

    Generator (yields per volume): the 40x point alone runs several
    minutes, so callers can stream partial results / split volumes
    across invocations instead of losing everything to a timeout."""
    qs = _registry()
    cores = spark.sparkContext.defaultParallelism
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = base.count()
    for vol in volumes:
        d = f"{scratch}/substr_vol_x{vol}"
        # alias the split into a real column FIRST: an inline
        # F.split(...) referenced from inside the outer transform
        # lambda re-evaluates once per repeat r in the interpreted-HOF
        # path — the exact shape the r13 operator fix removed
        # (ADVICE r13 #2); tools/ sits outside the static plan gate,
        # so keep the probe consistent with the operators by hand.
        scaled = base.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        ).select(
            "doc_id",
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(vol)),
                        lambda r: F.transform(
                            F.col("toks"),
                            lambda t: F.concat(t, F.lit("~"), r),
                        ),
                    )
                ),
            ).alias("text"),
        )
        scaled.repartition(32).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        sdf = spark.read.parquet(f"{d}/documents.parquet")
        stats = (
            sdf.select(
                F.length("text").alias("b"),
                F.size(F.split(F.col("text"), " ")).alias("nt"),
            )
            .agg(
                F.sum("b").alias("b"),
                F.sum(
                    F.when(F.col("nt") >= 8, F.col("nt") - 7).otherwise(0)
                ).alias("grams"),
            )
            .collect()[0]
        )
        mb, grams = stats["b"] / 1e6, stats["grams"]
        builder = qs["dedup_substring_fraction"].builder
        run_noop(builder(spark, d))  # warm
        runs = sorted(timed(lambda: run_noop(builder(spark, d))) for _ in range(3))
        sec = runs[1]
        yield {
            "exp": "substr_volume",
            "volume": vol,
            "docs": n_docs,
            "corpus_mb": round(mb, 1),
            "grams": grams,
            "sec_runs": runs,
            "sec": sec,
            "mb_per_sec_core": round(mb / sec / cores, 3),
            "mgrams_per_sec_core": round(grams / 1e6 / sec / cores, 3),
        }


def _registry():
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    return all_queries()


def substr_skew_probe(spark, scratch: str) -> list[dict]:
    """Planted gram-key skew for the ExactSubstr accounting
    (dedup_substring_fraction; VERDICT r7 #5): a fixed 16-token
    boilerplate sentence is embedded in HALF of 200k docs, so each of
    its 9 8-token windows is a hot key carrying 100k positions. The
    probe measures the two scale claims in the operator's docstring:
    (1) digest-keyed shuffles (8-byte xxhash64) vs the naive
    string-keyed shape, and (2) the AQE skew join splitting the hot
    SMJ partitions at runtime vs AQE off. The join is hinted to SMJ
    because at 100 TB the gram-count side is far beyond broadcast."""
    k = 8
    n_docs = 200_000
    boiler = " ".join(f"boil{j}" for j in range(16))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit(boiler + " "),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(23)),
                        lambda j: F.concat(
                            F.lit("u"), F.col("id"), F.lit("x"), j
                        ),
                    ),
                ),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(39)),
                    lambda j: F.concat(F.lit("v"), F.col("id"), F.lit("x"), j),
                ),
            )
        )
        .alias("text"),
    )
    path = f"{scratch}/substr_skew.parquet"
    docs.repartition(32).write.mode("overwrite").parquet(path)
    d = spark.read.parquet(path)

    def frac(use_digest: bool):
        toks = F.split(F.col("text"), " ")

        def gram(i):
            s = F.concat_ws(" ", F.slice(toks, i, k))
            return F.xxhash64(s) if use_digest else s

        grams = d.where(F.size(toks) >= k).select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size(toks) - (k - 1)), gram)
            ).alias("g"),
        )
        cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        return (
            grams.join(cnt.hint("merge"), "g")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias(
                    "n_dup"
                ),
            )
        )

    # correctness spot-check on the planted corpus: every even doc has
    # exactly the 9 boilerplate windows duplicated, odd docs none
    got = {r["doc_id"]: r for r in frac(True).where(F.col("doc_id") < 4).collect()}
    assert got[0]["n_dup"] == k + 1 and got[1]["n_dup"] == 0, got

    out = []
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe)
        if aqe == "true":
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "4m",
            )
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m"
            )
        for use_digest in (True, False):
            run_noop(frac(use_digest))  # warm
            sec = timed(lambda: run_noop(frac(use_digest)))
            out.append(
                {
                    "exp": "substr_gram_skew",
                    "keys": "digest8B" if use_digest else "string",
                    "aqe_skew": aqe,
                    "sec": sec,
                }
            )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    return out


def stats_probe(spark, scratch: str) -> list[dict]:
    """VERDICT r8 #5: scale evidence for the r8 statistical additions.

    (a) trend_theil_sen_slope at growing DAY ranges. The O(days²) pair
    join runs on the per-day aggregate, so the growth axis that
    matters is history length, not raw row count: events replicate in
    TIME (copy i shifts ts by i*30 days) to 30 → 300 → 3000 days, and
    the full-history pair join (5 types × C(D,2) slopes: 2.2k → 224k →
    22.5M pairs) races the trailing_days=90 variant, whose pair join
    is bounded at 5 × C(90,2) ≈ 20k regardless of D.

    (b) embedding_silhouette_labels at growing LABEL counts. The
    exact-moment trick makes cost n_points × n_labels (the broadcast
    pt stage), so labels are the quadratic-risk axis: 20k points
    (10× replicated vectors) scored against 10 → 100 → 1000 relabeled
    clusters (pmod(vec_id, L)); the moment table stays 64×L BIGINTs,
    broadcast-sized even at L=1000.
    """
    import ethiopia_legal_etl_spark.operators.anomaly as an
    import ethiopia_legal_etl_spark.operators.similarity as sim

    out = []

    # (a) Theil-Sen: time-replicated events
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for factor in (1, 10, 100):
        d = f"{scratch}/ts_x{factor}"
        if factor == 1:
            d = SF_DIR
        else:
            parts = [
                ev.withColumn(
                    "ts",
                    F.col("ts") + F.make_dt_interval(F.lit(30 * i)),
                )
                for i in range(factor)
            ]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            u.repartition(max(8, factor)).write.mode("overwrite").parquet(
                f"{d}/events.parquet"
            )
        for label, kw in (("full", {}), ("trail90", {"trailing_days": 90})):
            b = lambda: run_noop(an.trend_theil_sen_slope(spark, d, **kw))
            b()  # warm
            out.append(
                {
                    "exp": f"theil_sen_{label}",
                    "days": 30 * factor,
                    "sec": timed(b),
                }
            )

    # (b) silhouette: replicated vectors, relabeled to L clusters
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vec = emb.count()
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 100_000))
        for i in range(10)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    for n_labels in (10, 100, 1000):
        d = f"{scratch}/sil_L{n_labels}"
        big.withColumn(
            "label", F.pmod(F.col("vec_id"), F.lit(n_labels)).cast("int")
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        b = lambda: run_noop(sim.embedding_silhouette_labels(spark, d))
        b()  # warm
        out.append(
            {
                "exp": "silhouette_labels",
                "points": n_vec * 10,
                "labels": n_labels,
                "sec": timed(b),
            }
        )
    return out


def graph_probe(spark, scratch: str) -> list[dict]:
    """VERDICT r9 #5: scale evidence for the two fixed-point graph
    entries. Both derive their host graph from doc_id formulas, so the
    honest growth knob is the probe-only `n_hosts` parameter: hosts
    AND edges scale together (edges ~3·n_hosts by construction),
    50 → 500 → 5000 = 1×/10×/100× on both axes at sf0.1 docs.

    What each measures:
    - host_rank_fixed_point: 3 power-iteration rounds UNROLLED INTO
      ONE PLAN (no checkpoint, no driver loop) — cost is 3× the
      per-round broadcast-join+groupBy, and the rank table stays the
      broadcast side at every probed size.
    - graph_kcore_hosts: 6 peeling rounds EACH materialized through
      localCheckpoint — cost includes 6 round-trips of eager
      checkpoint jobs, i.e. the per-round floor a 1000-executor
      deployment would pay per peel (where reliable checkpoint()
      replaces it, SCALING.md r10).

    Iteration counts are fixed constants in both entries (3 and 6);
    the growth axis under test is per-round cost, not round count —
    PageRank's round count is a convergence choice, and peeling's is
    graph-dependent (fixpoint at round 4 on the default graph).
    """
    from ethiopia_legal_etl_spark.operators import webarchive as wa

    out = []
    for n_hosts in (50, 500, 5000):
        for name, fn in (
            ("host_rank_unrolled", wa.host_rank_fixed_point),
            ("kcore_checkpointed", wa.graph_kcore_hosts),
        ):
            b = lambda: run_noop(fn(spark, SF_DIR, n_hosts=n_hosts))
            b()  # warm
            out.append({"exp": name, "n_hosts": n_hosts, "sec": timed(b)})

    # 1000× tier: the doc_id formulas cap edges at ~3·n_hosts and
    # n_hosts at |docs|, so the big point replicates documents 100×
    # (shifted doc_ids) and widens to 50k hosts / ~150k edges — enough
    # data that the per-round joins stop being pure overhead.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    n_docs = docs.count()
    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
        for i in range(100)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    d_big = f"{scratch}/graph_docs_x100"
    big.repartition(32).write.mode("overwrite").parquet(
        f"{d_big}/documents.parquet"
    )
    for name, fn in (
        ("host_rank_unrolled", wa.host_rank_fixed_point),
        ("kcore_checkpointed", wa.graph_kcore_hosts),
    ):
        b = lambda: run_noop(fn(spark, d_big, n_hosts=50_000))
        b()  # warm
        out.append({"exp": name, "n_hosts": 50_000, "sec": timed(b)})
    return out


def fixpoint_probe(spark, scratch: str) -> list[dict]:
    """VERDICT r13 #5: volume-probe the ITERATIVE FIXPOINT path the way
    ExactSubstr was volume-probed — its cost axis is rounds-to-fixpoint
    x per-round cost, a different axis from bytes/doc or doc count.

    Graph: planted chains (the worst case for label propagation — a
    path graph maximizes diameter per edge). Two axes:
    - size at fixed diameter 7 (the shallow near-dup regime): 30k ->
      300k nodes, 1x/10x. Rounds must stay FLAT (~log2(7)+verify);
      wall scales with edges -> per-round rate is the partition-sizing
      number.
    - diameter at fixed 300k nodes: chains of length 8 / 512 / 4096.
      With the r14 pointer-jumping step rounds grow as ~log2(d)
      (5 -> 11 -> 14), all far under the production max_iter=20 cap —
      the pre-r14 plain propagation would have needed d rounds and
      SILENTLY stopped at 20 (diameter 511/4095 cases non-converged).

    The probe asserts convergence (component count == planted chain
    count) so a future regression to a bounded propagation cannot
    produce a fast-but-wrong reading. Rounds-bound and per-round rate
    pinned in SCALING.md §fixpoint."""
    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    out = []
    for n_nodes, chain_len, tag in (
        (30_000, 8, "size_1x_d7"),
        (300_000, 8, "size_10x_d7"),
        (300_000, 512, "diam_511"),
        (300_000, 4096, "diam_4095"),
    ):
        # consecutive blocks of chain_len nodes; edge (i, i+1) except
        # across block boundaries -> n_nodes/chain_len chains
        edges = (
            spark.range(n_nodes)
            .where((F.col("id") + 1) % chain_len != 0)
            .where(F.col("id") + 1 < n_nodes)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
            .repartition(32)
            .localCheckpoint()
        )
        n_edges = edges.count()
        rounds: list[int] = []

        def run():
            rounds.clear()
            comp = connected_components(edges, rounds_out=rounds)
            n_comp = comp.select("component").distinct().count()
            expected = -(-n_nodes // chain_len)  # ceil
            assert n_comp == expected, (tag, n_comp, expected)

        run()  # warm
        sec = timed(run)
        out.append(
            {
                "exp": "cc_fixpoint",
                "tag": tag,
                "nodes": n_nodes,
                "edges": n_edges,
                "diameter": chain_len - 1,
                "rounds": rounds[-1],
                "sec": sec,
                "sec_per_round": round(sec / rounds[-1], 3),
            }
        )
    return out


_SCANFID_WORKER = '''
import json, sys, time
repo, cores, d, mode = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = (SparkSession.builder.master(f"local[{cores}]")
         .appName("scanfid-worker")
         .config("spark.ui.enabled", "false")
         # emulate the 100 TB condition where every parquet file meets
         # or exceeds the split size (there: >=128m files under the
         # default maxPartitionBytes): the probe's 90x table is ~2GB
         # in 32 x ~60MB files, which the default 128m split would
         # PACK into fewer tasks (openCost 4m) and the cores axis
         # would saturate for packing reasons, not plan reasons
         # (measured r15 at 30x: ~7 splits).
         .config("spark.sql.files.maxPartitionBytes", "16m")
         .config("spark.sql.files.openCostInBytes", "0")
         .getOrCreate())
from ethiopia_legal_etl_spark.session import ensure_session_confs
ensure_session_confs(spark)
from ethiopia_legal_etl_spark.operators.relational import q1_pricing_summary

def build():
    if mode == "q1":
        return q1_pricing_summary(spark, d)
    # cpu mode: a compute-dominated aggregate over the same scan (one
    # sha2 per row) — separates task-fan-out capacity from q1's
    # memory-bandwidth-bound decode+sum
    li = spark.read.parquet(f"{d}/lineitem.parquet")
    return (
        li.select(F.sha2(F.concat_ws(
            "|", "l_orderkey", "l_linenumber", "l_shipdate"), 256).alias("h"))
        .groupBy((F.crc32(F.col("h")) % 7).alias("b")).count()
    )

runs = []
for _ in range(4):
    df = build()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    runs.append(round(time.perf_counter() - t0, 3))
steady = sorted(runs[1:])
print(json.dumps({"runs": runs, "median": steady[len(steady) // 2]}))
'''


def scanfidelity_probe(spark, scratch: str) -> list[dict]:
    """Scan-parallelism fidelity (VERDICT r14 #6): every bench base
    table is ONE single-row-group parquet file, so each scan stage is
    ONE task regardless of core count and the TPC-H heads read
    core-count-flat in the driver's c8/c32 block — a testdata-layout
    artifact, not a plan property. This probe rewrites a 10x lineitem
    into (a) a single file (the testdata layout) and (b) 32 files (a
    real table's splittable layout) and runs the REGISTERED
    q1_pricing_summary in FRESH subprocess sessions at local[8] and
    local[32] against each. Fidelity claim: on the splittable layout
    the 8->32 speedup is >= 0.5 x the cores ratio; on the single-file
    layout it stays ~flat. Curves pinned in SCALING.md §scanfidelity.
    """
    import subprocess

    # 90x (54M rows): measured r15 — at 10x the whole aggregate is ~4
    # core-seconds and saturates by 8 cores on any layout; at 30x the
    # c8 split run is ~0.9 s, of which ~0.5 s is fixed multi-stage/AQE
    # floor, so the cores axis still reads ~1.1x. 90x puts ~2.5 s of
    # work at c8 so the compute term dominates the floor.
    base = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    big = base.crossJoin(spark.range(90).select(F.col("id").alias("_dup"))).drop(
        "_dup"
    )
    layouts = {
        "single_file": (f"{scratch}/scanfid_1", 1),
        "split_32": (f"{scratch}/scanfid_32", 32),
    }
    for d, n in layouts.values():
        big.repartition(n).write.mode("overwrite").parquet(
            f"{d}/lineitem.parquet"
        )
    worker = f"{scratch}/scanfid_worker.py"
    Path(worker).write_text(_SCANFID_WORKER)
    repo = str(Path(__file__).resolve().parent.parent)
    out: list[dict] = []
    meds: dict[tuple[str, str, int], float] = {}
    jobs = [("q1", layout) for layout in layouts] + [("cpu", "split_32")]
    for mode, layout in jobs:
        d = layouts[layout][0]
        for cores in (8, 32):
            r = subprocess.run(
                [sys.executable, worker, repo, str(cores), d, mode],
                capture_output=True, text=True, timeout=900,
            )
            if r.returncode != 0:
                raise RuntimeError(
                    f"scanfidelity worker {mode}/{layout}/local[{cores}] "
                    f"exited {r.returncode}:\n{r.stderr}"
                )
            line = r.stdout.strip().splitlines()[-1]
            rec = json.loads(line)
            meds[(mode, layout, cores)] = rec["median"]
            out.append(
                {
                    "exp": f"scanfidelity_{mode}",
                    "layout": layout,
                    "cores": cores,
                    "runs": rec["runs"],
                    "median": rec["median"],
                }
            )
    for mode, layout in jobs:
        c8 = meds[(mode, layout, 8)]
        c32 = meds[(mode, layout, 32)]
        out.append(
            {
                "exp": f"scanfidelity_{mode}_ratio",
                "layout": layout,
                "speedup_8_to_32": round(c8 / c32, 2) if c32 else None,
                "cores_ratio": 4.0,
            }
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10,30")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--big-skew", action="store_true",
                    help="60M-row hot-key AQE skew-split experiment (~5 min)")
    ap.add_argument("--bloom", action="store_true",
                    help="runtime Bloom-filter join-pruning experiment (~3 min)")
    ap.add_argument("--gapfill", action="store_true",
                    help="LOCF gap-fill spine-join vs segment-explode (~2 min)")
    ap.add_argument("--analytics", action="store_true",
                    help="funnel/retention/transition scaling to 10M events (~3 min)")
    ap.add_argument("--neardup", action="store_true",
                    help="banded MinHash vs all-pairs near-dup scaling to 32k docs (~3 min)")
    ap.add_argument("--ingest", action="store_true",
                    help="serial reference-style loop vs partitioned ingest pipeline (~1 min)")
    ap.add_argument("--guards", action="store_true",
                    help="contamination + chunk-boilerplate guard scaling to 30x docs (~3 min)")
    ap.add_argument("--codecs", action="store_true",
                    help="compressed-codec decode scaling (JPEG/audio/AVI/PNG) to 30x docs (~3 min)")
    ap.add_argument("--codec-volume", action="store_true",
                    help="decode bytes-per-doc scaling (audio 1x/10x/50x, MPEG-1 1x/4x); rows/sec/core + MB/sec/core for partition sizing (~2 min)")
    ap.add_argument("--corpusops", action="store_true",
                    help="paragraph-dedup scaling, distinct vs duplicate-heavy corpora to 30x (~3 min)")
    ap.add_argument("--selection", action="store_true",
                    help="DSIR/snapshot-dedup/shard/PQ data-selection scaling to 30x docs (~3 min)")
    ap.add_argument("--tokenizer", action="store_true",
                    help="unigram-LM train/encode scaling to 30x docs, distinct-word growth (~3 min)")
    ap.add_argument("--emvocab", action="store_true",
                    help="unigram EM loop crossed 10x-vocab x 10x-corpus; proves the driver collects stay vocab-bounded (~3 min)")
    ap.add_argument("--textir", action="store_true",
                    help="BM25/PMI/backoff-LM/winnowing scaling to 30x docs (~3 min)")
    ap.add_argument("--substr-volume", action="store_true",
                    help="ExactSubstr bytes-per-doc scaling 1x/10x/40x at fixed doc count; MB/s/core + Mgrams/s/core for partition sizing (~7 min)")
    ap.add_argument("--substr-skew", action="store_true",
                    help="planted gram-skew ExactSubstr probe: digest vs string keys, AQE skew on/off (~2 min)")
    ap.add_argument("--stats", action="store_true",
                    help="Theil-Sen day-range (full vs trailing-90) + silhouette label-count scaling (~4 min)")
    ap.add_argument("--fixpoint", action="store_true",
                    help="connected-components fixpoint probe: planted worst-case chains, rounds-to-fixpoint + per-round rate at 1x/10x nodes and 8/512/4096 diameter (~4 min)")
    ap.add_argument("--scanfidelity", action="store_true",
                    help="core-scaling of q1's aggregate on splittable (32-file) vs single-file 10x lineitem, fresh local[8]/local[32] sessions (~4 min)")
    ap.add_argument("--graph", action="store_true",
                    help="fixed-point graph ops (PageRank unrolled / k-core checkpointed) at 1x/10x/100x hosts+edges (~3 min)")
    args = ap.parse_args()
    factors = [int(x) for x in args.factors.split(",")]

    spark = get_spark(app_name="scale-probe")
    scratch = tempfile.mkdtemp(prefix="elel_scale_")
    experiments = {
        "q1_agg": q1,
        "join_agg": join_agg,
        "window_topk": window_topk,
        "dedup_hash": dedup_hash,
    }
    try:
        for factor in factors:
            d = f"{scratch}/x{factor}"
            if factor == 1:
                d = SF_DIR
            else:
                replicate(spark, SF_DIR, "lineitem", factor, d, {"l_orderkey": 1})
                replicate(spark, SF_DIR, "orders", factor, d, {"o_orderkey": 1, "o_custkey": 1})
            for name, builder in experiments.items():
                run_noop(builder(spark, d))  # warm
                sec = timed(lambda: run_noop(builder(spark, d)))
                print(json.dumps({"exp": name, "factor": factor, "sec": sec}))
        print(json.dumps({"exp": "skew_join", **skew_stress(spark, SF_DIR, scratch)}))
        if args.big_skew:
            print(json.dumps({"exp": "big_skew", **big_skew(spark, scratch)}))
        if args.bloom:
            print(json.dumps({"exp": "bloom_prune", **bloom_probe(spark, scratch)}))
        if args.gapfill:
            print(json.dumps({"exp": "gapfill", **gapfill_probe(spark, scratch)}))
        if args.analytics:
            for r in analytics_probe(spark, scratch):
                print(json.dumps(r))
        if args.neardup:
            for r in neardup_probe(spark, scratch):
                print(json.dumps(r))
        if args.ingest:
            for r in ingest_probe(spark):
                print(json.dumps(r))
        if args.guards:
            for r in guards_probe(spark, scratch):
                print(json.dumps(r))
        if args.codecs:
            for r in codecs_probe(spark, scratch):
                print(json.dumps(r))
        if args.codec_volume:
            for r in codec_volume_probe(spark):
                print(json.dumps(r))
        if args.corpusops:
            for r in corpusops_probe(spark, scratch):
                print(json.dumps(r))
        if args.selection:
            for r in selection_probe(spark, scratch):
                print(json.dumps(r))
        if args.tokenizer:
            for r in tokenizer_probe(spark, scratch):
                print(json.dumps(r))
        if args.emvocab:
            for r in emvocab_probe(spark, scratch):
                print(json.dumps(r))
        if args.textir:
            for r in textir_probe(spark, scratch):
                print(json.dumps(r))
        if args.substr_volume:
            for r in substr_volume_probe(spark, scratch):
                print(json.dumps(r))
        if args.substr_skew:
            for r in substr_skew_probe(spark, scratch):
                print(json.dumps(r))
        if args.stats:
            for r in stats_probe(spark, scratch):
                print(json.dumps(r))
        if args.fixpoint:
            for r in fixpoint_probe(spark, scratch):
                print(json.dumps(r))
        if args.graph:
            for r in graph_probe(spark, scratch):
                print(json.dumps(r))
        if args.scanfidelity:
            for r in scanfidelity_probe(spark, scratch):
                print(json.dumps(r))
    finally:
        if not args.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
