"""The benchmark's workloads, driven through the public API of
``my_feast_spark`` only.

``feature_refresh`` — writes beside reads. Each cycle hands over one new
hour of raw click events and runs the four steps a feature pipeline runs
when an hour lands: ``time_bucket_agg`` builds the gold rows,
``upsert_version`` commits them keyed on (user_id, event_timestamp),
``FeatureStore.materialize`` refreshes the online store, and a small-probe
point-in-time retrieval runs at the new version. The cycle ends with a
``get_online_features`` call that must return the new hour's values. The
feature table carries late re-ingested duplicates (newer ``created``) and
per-user gaps longer than the TTL, so the retrieval exercises the
``created`` tie-break and TTL nulls.

``neardup_ingest`` — a file stream of seeded documents, 30% of them planted
near-duplicates of earlier documents, feeds
``near_dedup_ingest_stream`` in fixed-size micro-batches; each round hands
over one file and drains it with an ``available_now`` query over one
checkpoint, which makes one micro-batch. It bypasses the feature
store entirely, and the feature refresh bypasses streaming ingest, so a
gain in one's layers must leave the other flat.

Each workload returns ``(metrics, report, checks)``: the end-to-end
metrics (``run.END_TO_END`` names the gated ones; ``None`` when no timed
operation succeeded), the same numbers under the names the feature-store
documentation uses, and the correctness tally.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.harness import tree_cpu_s

#: ``feature_refresh`` input sizes
REFRESH = {
    "entities": 2000,         # users
    "base_hours": 48,         # hours of history before the first cycle
    "events_per_hour": 4000,  # raw events handed over per cycle
    "probes": 1000,           # probe rows of the per-cycle retrieval
    "online_keys": 10,        # users read back per cycle
    "ttl_hours": 48,
    "max_cycles": 10,         # hours generated at set-up
}
#: ``neardup_ingest`` input sizes
INGEST = {
    "batch_docs": 200,        # documents per file = per micro-batch
    "max_batches": 16,        # files generated at set-up
}

#: untimed operations at the end of set-up. The driver JVM compiles the
#: planner's hot paths over the first few operations; timing starts after.
#: The first costs about twice the CPU of a later one; after the second,
#: CPU per operation drifts by a few percent only. More warm-up does not
#: fit a run's share of the time budget on a loaded host.
WARMUP_OPS = 2

VIEW = "user_hourly"
FEATURES = [f"{VIEW}:clicks", f"{VIEW}:spend"]


def _utc(seconds: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(seconds, tz=dt.timezone.utc)


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two listings."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def _bytes(root: str) -> int:
    return sum(sz for sz, _ in _files(root).values())


def _window_in_plan(df) -> bool:
    """Plan-shape guard: the evaluated plan still contains the as-of
    join's Window (a pruned plan would time something else)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "Window" in plan


# --- feature_refresh ----------------------------------------------------------

def feature_refresh(bench):
    from my_feast_spark import Entity, Feature, FeatureStore, FeatureView, FileSource
    from my_feast_spark.operators.aggregations import time_bucket_agg
    from my_feast_spark.sources.versioned import (
        list_versions, read_version, upsert_version, write_version,
    )

    cfg = REFRESH
    seed, tr = bench.seed, bench.tracer
    n_e, h0 = cfg["entities"], cfg["base_hours"]
    ttl_s = cfg["ttl_hours"] * gen.HOUR
    # probes cover the base history and the hours the cycles can add
    probe_span = (h0 + cfg["max_cycles"]) * gen.HOUR

    def build(spark, d):
        paths = {k: os.path.join(d, k) for k in (
            "base", "probes", "table", "repo", "raw", "scratch")}
        gen.write(gen.hourly_history(spark, seed, n_e, h0), paths["base"],
                  files=bench.cores)
        gen.write(gen.probes(spark, seed, cfg["probes"], n_e, gen.BASE_TS,
                             probe_span), paths["probes"])
        raw_dirs = gen.write_raw_hours(
            spark, seed, h0, cfg["max_cycles"], cfg["events_per_hour"], n_e,
            paths["raw"])
        write_version(spark.read.parquet(paths["base"]), paths["table"],
                      mode="overwrite")
        fs = FeatureStore(paths["repo"], spark=spark)
        with tr.span("core.registry.apply"):
            fs.apply([
                Entity(name="user", value_type="INT64", join_keys=["user_id"]),
                FeatureView(
                    name=VIEW, entities=["user"],
                    features=[Feature("clicks", "INT64"),
                              Feature("spend", "DOUBLE")],
                    source=FileSource(
                        path=paths["table"], file_format="versioned",
                        timestamp_field="event_timestamp",
                        created_timestamp_column="created",
                    ),
                    ttl=dt.timedelta(seconds=ttl_s),
                ),
            ])
        fs.materialize(_utc(gen.BASE_TS), _utc(gen.BASE_TS + h0 * gen.HOUR),
                       [VIEW])
        st = {"spark": spark, "fs": fs, "paths": paths, "hour": h0,
              "probes_df": spark.read.parquet(paths["probes"]),
              "con": oracle.connect(os.path.join(bench.work, "tmp")),
              "cycles": [], "raw": [], "pending": raw_dirs}
        for _ in range(WARMUP_OPS):  # checked like the timed cycles
            cycle(st, timed=False)
        return st

    def cycle(st, timed: bool) -> bool:
        spark, fs, paths = st["spark"], st["fs"], st["paths"]
        if not st["pending"]:
            return False
        hour = st["hour"]
        st["hour"] += 1
        # off the clock: pick the users to read back, size the batch
        raw_path = st["pending"].pop(0)
        st["raw"].append(raw_path)
        batch_file = os.path.join(paths["scratch"], f"gold-{hour}.parquet")
        os.makedirs(paths["scratch"], exist_ok=True)
        oracle.write_gold(st["con"], f"{raw_path}/*.parquet", batch_file)
        keys = [r[0] for r in st["con"].execute(
            f"SELECT DISTINCT user_id FROM read_parquet('{raw_path}/*.parquet') "
            f"ORDER BY hash(user_id, {seed}) LIMIT {cfg['online_keys']}"
        ).fetchall()]
        before = {**_files(paths["table"]), **_files(os.path.join(paths["repo"], "online"))}
        rec = {"timed": timed, "ok": False, "error": None}
        end = _utc(gen.BASE_TS + (hour + 1) * gen.HOUR - 1)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("feature_refresh.cycle", hour=hour):
                raw = spark.read.parquet(raw_path)  # hand-over
                with tr.span("operators.aggregations.time_bucket_agg"):
                    gold = time_bucket_agg(
                        raw, ["user_id"], "ts",
                        {"clicks": ("count", "event_id"),
                         "spend_cents": ("sum", "amount")},
                    )
                gold = gold.select(
                    "user_id", "event_timestamp",
                    (F.col("event_timestamp") + F.expr("INTERVAL 1 HOUR"))
                    .alias("created"),
                    "clicks", (F.col("spend_cents") / 100.0).alias("spend"),
                )
                with tr.span("sources.versioned.upsert_version"):
                    version = upsert_version(
                        gold, paths["table"], ["user_id", "event_timestamp"])
                with tr.span("core.store.materialize"):
                    fs.materialize(_utc(gen.BASE_TS), end, [VIEW])
                t_r = time.perf_counter()
                with tr.span("feature_refresh.point_retrieval"):
                    with tr.span("plans.retrieval.build"):
                        job = fs.get_historical_features(
                            st["probes_df"], FEATURES, as_of_version=version)
                    with tr.span("operators.asof_join.eval",
                                 probes=cfg["probes"]):
                        job.to_spark_df().write.format("noop").mode(
                            "overwrite").save()
                rec["point_retrieval_s"] = time.perf_counter() - t_r
                with tr.span("core.store.get_online_features", keys=len(keys)):
                    got = fs.get_online_features(
                        [{"user_id": k} for k in keys], FEATURES)
            rec["freshness_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
        except Exception as exc:  # a failed cycle counts in error_rate
            rec["error"] = repr(exc)
            st["cycles"].append(rec)
            return True
        # --- off the clock: layer probes timed directly, then checks
        with tr.span("core.registry.get_feature_view"):
            fs.get_feature_view(VIEW)
        with tr.span("sources.versioned.read_version"):
            read_version(spark, paths["table"])
        after = {**_files(paths["table"]), **_files(os.path.join(paths["repo"], "online"))}
        rec["write_amp"] = _written(before, after) / os.path.getsize(batch_file)
        expect = oracle.hourly_gold(st["con"], f"{raw_path}/*.parquet")
        rows = list(zip(got["user_id"], got["clicks"], got["spend"]))
        rec["ok"] = (
            _window_in_plan(job.to_spark_df())
            and rows == [(k, *expect[k]) for k in keys]
        )
        rec["version"], rec["job"], rec["hours"] = version, job, len(st["raw"])
        st["cycles"].append(rec)
        return True

    st = bench.setup(build)
    for _ in bench.until():
        if not cycle(st, timed=True):
            break

    timed = [c for c in st["cycles"] if c["timed"] and not c["error"]]
    failed = sum(1 for c in st["cycles"] if not c["ok"])
    errors = [c["error"] for c in st["cycles"] if c["error"]]
    checks = {"attempted": len(st["cycles"]), "failed": failed,
              "errors": errors[:3]}
    if not timed:
        return None, {}, checks

    # --- final point-in-time check of the last cycle's retrieval ----------
    spark, paths, con = st["spark"], st["paths"], st["con"]
    last = timed[-1]
    got_path = os.path.join(paths["scratch"], "pit_result")
    last["job"].to_spark_df().select("probe_id", "clicks", "spend").write.mode(
        "overwrite").parquet(got_path)
    feature_sql = " UNION ALL ".join(
        [f"SELECT user_id, event_timestamp, created, clicks, spend "
         f"FROM read_parquet('{paths['base']}/*.parquet')"]
        + [oracle.gold_sql(f"{p}/*.parquet") for p in st["raw"][:last["hours"]]]
    )
    bad, expected_nulls = oracle.pit_mismatches(
        con, feature_sql, f"{paths['probes']}/*.parquet",
        f"{got_path}/*.parquet", ttl_s)
    if bad and last["ok"]:
        last["ok"] = False
        checks["failed"] += 1
    versions = list_versions(spark, paths["table"])
    bench.info["pit_check"] = {"probes": cfg["probes"], "mismatches": bad,
                               "ttl_or_missing_nulls": expected_nulls,
                               "version": last["version"]}
    bench.layer_counts = {
        "sources.versioned.versions": len(versions),
        "sources.versioned.table_bytes": _bytes(paths["table"]),
    }

    fresh = [c["freshness_s"] for c in timed]
    events = cfg["events_per_hour"] * len(timed)
    metrics = {
        "setup_s": bench.setup_s,
        "op_p50_s": statistics.median(fresh),
        "op_cpu_s": statistics.median(c["cpu_s"] for c in timed),
        "items_per_s": events / sum(fresh),
        # the table grows every cycle: take the same cycle in every run
        "write_amp": timed[0]["write_amp"],
    }
    report = {
        "setup_s": (metrics["setup_s"], "s"),
        "error_rate": (checks["failed"] / checks["attempted"], "ratio"),
        "freshness_s": (metrics["op_p50_s"], "s"),
        "cycle_cpu_s": (metrics["op_cpu_s"], "s"),
        "events_per_s": (metrics["items_per_s"], "events/s"),
        "point_retrieval_s": (
            statistics.median(c["point_retrieval_s"] for c in timed), "s"),
        "write_amp": (metrics["write_amp"], "ratio"),
        "cycles": (len(timed), "count"),
        "freshness_samples_s": ([round(x, 3) for x in fresh], "s"),
        "cpu_samples_s": ([round(c["cpu_s"], 3) for c in timed], "s"),
    }
    return metrics, report, checks


# --- neardup_ingest -------------------------------------------------------------

def neardup_ingest(bench):
    from my_feast_spark.streaming.ingest import near_dedup_ingest_stream

    cfg = INGEST
    seed, tr = bench.seed, bench.tracer

    def build(spark, d):
        paths = {k: os.path.join(d, k) for k in (
            "gen", "pending", "incoming", "out", "index", "ckpt")}
        os.makedirs(paths["incoming"])
        files = gen.write_doc_batches(
            spark, seed, cfg["max_batches"], cfg["batch_docs"], paths["gen"],
            paths["pending"])
        st = {"spark": spark, "paths": paths, "files": files, "next": 0,
              "rounds": [], "batches": []}
        for _ in range(WARMUP_OPS):  # checked like the timed rounds
            run_round(st, timed=False)
        return st

    def run_round(st, timed: bool) -> bool:
        spark, paths = st["spark"], st["paths"]
        if st["next"] >= len(st["files"]):
            return False
        # off the clock: hand the next file over
        src = st["files"][st["next"]]
        dst = os.path.join(paths["incoming"], os.path.basename(src))
        os.rename(src, dst)
        os.utime(dst)
        in_bytes = os.path.getsize(dst)
        st["next"] += 1
        roots = (paths["out"], paths["index"])
        before = {p: v for r in roots for p, v in _files(r).items()}
        rec = {"timed": timed, "docs": cfg["batch_docs"], "error": None,
               "batch": st["next"] - 1}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("neardup_ingest.round"):
                sdf = spark.readStream.schema("doc_id long, text string") \
                    .option("maxFilesPerTrigger", 1).parquet(paths["incoming"])
                q = near_dedup_ingest_stream(
                    sdf, out_path=paths["out"], index_path=paths["index"],
                    checkpoint=paths["ckpt"], available_now=True)
                q.awaitTermination()
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception as exc:
            rec["error"] = repr(exc)
            st["rounds"].append(rec)
            return True
        after = {p: v for r in roots for p, v in _files(r).items()}
        rec["write_amp"] = _written(before, after) / in_bytes
        for p in q.recentProgress:
            dur = p.durationMs or {}
            if "addBatch" not in dur:
                continue
            start = _iso(p.timestamp)
            b = {"timed": timed, "batch_id": p.batchId,
                 "rows": p.numInputRows, "durations": dict(dur)}
            sp = tr.add_span("streaming.ingest.batch", start,
                             start + dur["triggerExecution"] / 1000.0,
                             batch_id=p.batchId, **{
                                 f"{k}_ms": dur.get(k, 0) for k in BATCH_PHASES})
            b["span"] = sp
            st["batches"].append(b)
        st["rounds"].append(rec)
        return True

    st = bench.setup(build)
    for _ in bench.until():
        if not run_round(st, timed=True):
            break

    # --- checks, off the clock ---------------------------------------------
    paths = st["paths"]
    con = oracle.connect(os.path.join(bench.work, "tmp"))
    n_docs = st["next"] * cfg["batch_docs"]
    wrong = oracle.neardup_wrong(
        con, f"{paths['gen']}/labels/*.parquet",
        f"{paths['out']}/*/*.parquet", cfg["batch_docs"], n_docs)
    accepted = dict(con.execute(
        f"SELECT batch_id, count(*) FROM read_parquet('{paths['out']}/*/*.parquet', "
        f"hive_partitioning = true) GROUP BY ALL").fetchall())
    for b in st["batches"]:
        b["accepted_ratio"] = accepted.get(b["batch_id"], 0) / cfg["batch_docs"]
        if b["span"] is not None:
            b["span"].attrs["accepted_ratio"] = b["accepted_ratio"]
    n_batches = st["next"]  # one micro-batch per file
    failed_batches = len({b for b, w in wrong.items() if w}
                         | {r["batch"] for r in st["rounds"] if r["error"]})
    bench.info["neardup_check"] = {
        "docs": n_docs, "wrong_docs": sum(wrong.values()),
        "planted_dups": int(n_docs * gen.DUPS_PER_BLOCK / gen.BLOCK),
        "batches": n_batches}

    timed_rounds = [r for r in st["rounds"] if r["timed"] and not r["error"]]
    timed_batches = [b for b in st["batches"] if b["timed"]]
    trig = [b["durations"]["triggerExecution"] / 1000.0 for b in timed_batches]
    errors = [r["error"] for r in st["rounds"] if r["error"]]
    checks = {"attempted": n_batches, "failed": failed_batches,
              "errors": errors[:3]}
    if not timed_rounds or not trig:
        return None, {}, checks
    docs = sum(r["docs"] for r in timed_rounds)
    metrics = {
        "setup_s": bench.setup_s,
        "op_p50_s": statistics.median(trig),
        "op_cpu_s": statistics.median(r["cpu_s"] for r in timed_rounds),
        "items_per_s": docs / sum(r["s"] for r in timed_rounds),
        # the index grows every round: take the same round in every run
        "write_amp": timed_rounds[0]["write_amp"],
    }
    report = {
        "setup_s": (metrics["setup_s"], "s"),
        "error_rate": (failed_batches / n_batches, "ratio"),
        "ingest_docs_per_s": (metrics["items_per_s"], "docs/s"),
        "ingest_batch_p50_s": (metrics["op_p50_s"], "s"),
        "round_cpu_s": (metrics["op_cpu_s"], "s"),
        "write_amp": (metrics["write_amp"], "ratio"),
        "batches": (len(timed_batches), "count"),
        "batch_samples_s": (trig, "s"),
        "cpu_samples_s": ([round(r["cpu_s"], 3) for r in timed_rounds], "s"),
    }
    return metrics, report, checks


#: ``StreamingQueryProgress.durationMs`` phases reported per micro-batch
BATCH_PHASES = ("addBatch", "queryPlanning", "getBatch", "walCommit",
                "triggerExecution")


def _iso(ts: str) -> float:
    """Progress ``timestamp`` (ISO-8601 UTC, millisecond) → epoch seconds."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


WORKLOADS = {
    "feature_refresh": feature_refresh,
    "neardup_ingest": neardup_ingest,
}
