"""Seeded input generators for the benchmark workloads.

Every relation is built from ``spark.range`` and ``xxhash64`` expressions
over (seed, salt, row id), so the same seed gives the same rows at any
size and partitioning. Inputs are written as parquet under the run's work
directory; the program under test and the DuckDB oracle both read those
files, so the oracle never sees anything the program did not.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: 2023-11-15 00:00:00 UTC — a day boundary, so hour and day buckets align.
BASE_TS = 1_700_006_400
HOUR = 3600
DAY = 86400


def _h(seed: int, salt: str, *cols) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def _u(seed: int, salt: str, mod: int, *cols) -> Column:
    """Uniform integer in [0, mod) from (seed, salt, cols)."""
    return F.pmod(_h(seed, salt, *cols), F.lit(mod))


def _ts(seconds: Column) -> Column:
    return F.timestamp_seconds(seconds)


def _div(col: Column, d: int) -> Column:
    return F.floor(col / d).cast("long")


def write(df: DataFrame, path: str, files: int = 1) -> str:
    df.coalesce(files).write.mode("overwrite").parquet(path)
    return path


def hourly_history(spark: SparkSession, seed: int, entities: int,
                   hours: int) -> DataFrame:
    """Hourly per-user rows ``(user_id, event_timestamp, created, clicks,
    spend)``.

    * Each user loses 72-hour windows (phase-shifted per user) with
      probability 1/8, so probes late in a gap fall outside a 48-hour TTL
      (TTL nulls).
    * About 2% of rows are re-ingested late: a second row with the same
      (user_id, event_timestamp), new values and a ``created`` a day
      later, which a point-in-time join must prefer.
    * Rows come in hashed order, not by hour and user: a periodic layout
      makes parquet's compressed size swing with the number of users
      present, and real feature tables are not laid out that way.
    """
    base = spark.range(entities * hours).select(
        "id",
        (F.col("id") % entities).alias("user_id"),
        _div(F.col("id"), entities).alias("hr"),
    )
    window = _div(F.col("hr") + _u(seed, "gap_phase", 72, "user_id"), 72)
    base = base.filter(_u(seed, "gap", 8, "user_id", window) != 0)
    ts = F.lit(BASE_TS) + F.col("hr") * HOUR

    def rows(df, created, salt):
        return df.select(
            "user_id",
            _ts(ts).alias("event_timestamp"),
            _ts(created).alias("created"),
            _u(seed, "clicks" + salt, 100, "id").alias("clicks"),
            (_u(seed, "spend" + salt, 100_000, "id") / 100.0).alias("spend"),
        )

    late = base.filter(_u(seed, "late", 50, "id") == 0)
    return rows(base, ts + 600, "").unionByName(
        rows(late, ts + DAY + _u(seed, "late_at", HOUR, "id"), "_late")
    ).orderBy(_h(seed, "order", "user_id", "event_timestamp", "created"))


def probes(spark: SparkSession, seed: int, n: int, entities: int,
           start_s: int, span_s: int) -> DataFrame:
    """``n`` probe rows ``(probe_id, user_id, event_timestamp)`` with
    uniform keys and uniform timestamps in ``[start_s, start_s + span_s)``."""
    return spark.range(n).select(
        F.col("id").alias("probe_id"),
        _u(seed, "probe_key", entities, "id").alias("user_id"),
        _ts(F.lit(start_s) + _u(seed, "probe_ts", span_s, "id"))
        .alias("event_timestamp"),
    )


def write_raw_hours(spark: SparkSession, seed: int, first_hour: int,
                    hours: int, n: int, entities: int, out_dir: str) -> list[str]:
    """Write ``n`` raw click events ``(event_id, user_id, ts, amount)`` for
    each of ``hours`` hours from ``first_hour`` on, one directory per hour,
    and return the directories in hour order. ``amount`` is in integer
    cents so hourly sums are exact in every engine."""
    r = spark.range(hours * n).select(
        (F.lit(first_hour) + _div(F.col("id"), n)).alias("hour"),
        (F.col("id") % n).alias("i"),
    )
    r.select(
        "hour",
        (F.col("hour") * 1_000_000 + F.col("i")).alias("event_id"),
        _u(seed, "ev_user", entities, "hour", "i").alias("user_id"),
        _ts(F.lit(BASE_TS) + F.col("hour") * HOUR
            + _u(seed, "ev_ts", HOUR, "hour", "i")).alias("ts"),
        _u(seed, "ev_amt", 10_000, "hour", "i").alias("amount"),
    ).repartition("hour").write.mode("overwrite").partitionBy("hour").parquet(out_dir)
    return [os.path.join(out_dir, f"hour={first_hour + k}") for k in range(hours)]


# --- near-duplicate documents -----------------------------------------------

#: documents per block; the last ``DUPS_PER_BLOCK`` of each block are
#: planted near-duplicates (30%), the rest originals
BLOCK = 10
DUPS_PER_BLOCK = 3
DOC_WORDS = 40
VOCAB = 20_000


def documents(spark: SparkSession, seed: int, n_docs: int) -> DataFrame:
    """``(doc_id, text, is_dup, src)`` for ``n_docs`` documents.

    An original is ``DOC_WORDS`` words drawn from a ``VOCAB``-word
    vocabulary. A planted near-duplicate copies one ORIGINAL with a
    lower id (a position below ``BLOCK - DUPS_PER_BLOCK`` of its own or
    an earlier block) and replaces one word, which leaves its word
    3-shingle Jaccard with the source near 0.86 — far above the default
    0.5 threshold — while two originals share almost no shingles.
    """
    orig = BLOCK - DUPS_PER_BLOCK
    d = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % BLOCK) >= orig).alias("is_dup"),
    )
    block = _div(F.col("doc_id"), BLOCK)
    src = F.when(
        F.col("is_dup"),
        _u(seed, "src_block", 1 << 30, "doc_id") % (block + 1) * BLOCK
        + _u(seed, "src_pos", orig, "doc_id"),
    ).otherwise(F.col("doc_id"))
    d = d.withColumn("src", src)
    edit_at = F.when(
        F.col("is_dup"), _u(seed, "edit_at", DOC_WORDS, "doc_id")
    ).otherwise(F.lit(-1))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_WORDS - 1)),
        lambda i: F.when(
            i == edit_at,
            F.concat(F.lit("x"), _u(seed, "edit_w", VOCAB, F.col("doc_id")).cast("string")),
        ).otherwise(
            F.concat(F.lit("w"), _u(seed, "word", VOCAB, F.col("src"), i).cast("string"))
        ),
    )
    return d.select("doc_id", F.concat_ws(" ", words).alias("text"), "is_dup", "src")


def write_doc_batches(spark: SparkSession, seed: int, n_batches: int,
                      batch_docs: int, staging: str, out_dir: str) -> list[str]:
    """Write ``n_batches`` single-file parquet batches of ``batch_docs``
    documents each (``doc_id, text``; ids ascending across batches) into
    ``out_dir`` and return their paths in batch order. Also writes the
    full labelled relation to ``<staging>/labels`` for the oracle."""
    docs = documents(spark, seed, n_batches * batch_docs)
    write(docs.select("doc_id", "is_dup", "src"), os.path.join(staging, "labels"))
    parts = os.path.join(staging, "parts")
    docs.select(
        "doc_id", "text", (F.col("doc_id") / batch_docs).cast("int").alias("b")
    ).repartition("b").write.mode("overwrite").partitionBy("b").parquet(parts)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in range(n_batches):
        src_dir = os.path.join(parts, f"b={b}")
        (name,) = [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
        dst = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        shutil.move(os.path.join(src_dir, name), dst)
        paths.append(dst)
    shutil.rmtree(parts)
    return paths
