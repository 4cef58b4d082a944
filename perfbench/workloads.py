"""The benchmark's workloads.

Each is a closed loop with one client: the next operation starts when the
previous one ends. A workload's ``setup`` stages its inputs and warms the
session up; ``op`` lands one operation's input (untimed), calls the
program (timed) and returns the timed seconds; ``check`` checks the end
state; ``MIN_OPS`` is the fewest operations a run measures. Correctness
failures come back as messages, so a failed check still yields a result
line.

When a ``Tracer`` is attached, ``op`` also records one per-layer record
per traced call into ``self.records``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen


def _parquet_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def _span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def stat(value, unit: str, n: int) -> dict:
    """A reported number with its unit and sample count."""
    return {"value": value, "unit": unit, "n": n}


class IngestTicks:
    """Replays a seeded events feed through ``pipeline.run_incremental``:
    one landing parquet file per tick, the source directory re-read every
    tick, ticks back-to-back with no release between them."""

    name = "ingest_ticks"
    WARMUP_TICKS = 3
    MIN_OPS = 8

    def __init__(self, spark, root: str, seed: int):
        from backend_etl_spark.sink import WatermarkStore

        self.spark = spark
        self.root = root
        self.seed = seed
        self.feed = gen.EventsFeed(seed)
        self.src, self.sink = f"{root}/src", f"{root}/sink"
        os.makedirs(self.src)
        self.state = WatermarkStore(spark, f"{root}/watermarks")
        self.tracer = None
        self.records: list[dict] = []

    def setup(self) -> None:
        """Warm up on a throwaway replay, then land the fleet's initial
        backfill (the first tick: catchup only, every tenant new)."""
        warm = IngestTicks(self.spark, f"{self.root}/warmup", self.seed)
        for _ in range(self.WARMUP_TICKS):
            warm.op()
        self.op()

    def op(self) -> float:
        from backend_etl_spark.pipeline import run_incremental

        k, before = self.feed.tick, self.feed.expected_rows
        as_of = self.feed.write_tick(f"{self.src}/tick_{k:05d}.parquet")
        tracer = self.tracer
        if tracer is not None:
            rdds_before = _persistent_rdds(self.spark)
            tracer.begin(k)
        t0 = time.perf_counter()
        source = self.spark.read.parquet(self.src)
        counts = run_incremental(self.spark, source, self.sink, self.state, as_of)
        t1 = time.perf_counter()
        if tracer is not None:
            rec = tracer.end("tick", t0, t1)
            write = tracer.op_spans(k, "sink.write")
            adv = tracer.op_spans(k, "watermark.advance")
            read = tracer.op_spans(k, "watermark.read")
            rec.update({
                "pipeline.self_s": (t1 - t0) - _span_s(write) - _span_s(adv) - _span_s(read),
                "pipeline.rows_catchup": counts["catchup"],
                "pipeline.rows_general": counts["general"],
                "sink.write_s": _span_s(write),
                "sink.rows_appended": sum(s["rows"] for s in write),
                "watermark.advance_s": _span_s(adv),
                "watermark.read_s": _span_s(read),
                # ticks release nothing, so count this tick's own leak only
                "session.leaked_rdds": _persistent_rdds(self.spark) - rdds_before,
                "in_window_rows": self.feed.expected_rows - before,
            })
            self.records.append(rec)
        return t1 - t0

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        fails = []
        sink = self.spark.read.parquet(self.sink)
        n, n_keys = sink.agg(F.count("*"), F.countDistinct("mention_id")).first()
        if n != n_keys:
            fails.append(f"sink is not key-unique: {n} rows, {n_keys} keys")
        if n != self.feed.expected_rows:
            fails.append(f"sink has {n} rows, the generator expects {self.feed.expected_rows}")
        landed = {r[0]: r[1] for r in
                  sink.groupBy("tenant_id").agg(F.max("created_at")).collect()}
        wm = {r["tenant_id"]: r["watermark"] for r in
              self.state.read().where(F.col("platform") == "events").collect()}
        for what, want in (("max landed ts", landed), ("generator's", self.feed.watermarks())):
            bad = sorted(t for t in set(wm) | set(want) if wm.get(t) != want.get(t))
            if bad:
                fails.append(f"{len(bad)} tenants' watermark != {what}, e.g. {bad[:3]}")
        return fails

    def summary(self, times: list[float]) -> dict:
        """Tick median and tail: the highest percentile with at least ten
        ticks beyond it (nearest rank), unset with fewer than 11 ticks."""
        n = len(times)
        pct = tail = None
        if n >= 11:
            pct, tail = 100.0 * (n - 10) / n, sorted(times)[n - 11]
        return {"tick_p50_s": stat(statistics.median(times) if times else None, "s", n),
                "tick_tail_s": {**stat(tail, "s", n), "percentile": pct}}

    def layer_metrics(self) -> dict:
        """Per-tick medians, plus the sink's end state."""
        keys = [k for k in self.records[0] if k != "in_window_rows"]
        out = {k: statistics.median(r[k] for r in self.records) for k in keys}
        appended = sum(r["sink.rows_appended"] for r in self.records)
        out["sink.drop_ratio"] = 1.0 - appended / sum(r["in_window_rows"] for r in self.records)
        files = _parquet_files(self.sink)
        out["sink.files"] = len(files)
        out["sink.bytes_per_row"] = (sum(os.path.getsize(f) for f in files)
                                     / self.spark.read.parquet(self.sink).count())
        return out


class Catalog:
    """Passes over a fixed list of catalog entries, each timed as
    ``REGISTRY[name].fn`` plus a noop write, the way ``bench.py`` times
    them. The input is the committed, read-only sf0.01 test tables
    (TESTDATA.md), so the seed does not change it. Every pass, the
    warm-up included, reads its own copy of them, so per-process fit
    memos miss as on a fresh snapshot. Between entries, outside timing,
    the result is hashed and compared with its DuckDB oracle, then the
    persistent RDDs it leaked are released (the documented caller
    contract)."""

    name = "catalog"
    MIN_OPS = 1
    ENTRIES = (
        "dedup_semantic_semdedup",
        "geo_nearest_supplier_binned",
        "streaming_purchase_click_join",
    )

    def __init__(self, spark, root: str, seed: int):
        from __spark_entry__ import SMOKE_SF_DIR

        self.spark = spark
        # the committed correctness-scale tables sit next to the smoke tables
        self.tables = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")
        if not os.path.isdir(self.tables):
            raise FileNotFoundError(f"committed test tables not found: {self.tables}")
        self.root = root
        self.passes = 0
        self.tracer = None
        self.records: list[dict] = []
        self.timings: dict[str, list[tuple[float, float]]] = {e: [] for e in self.ENTRIES}
        self.fails: list[str] = []
        self.hashes: dict[str, set] = {e: set() for e in self.ENTRIES}

    def setup(self) -> None:
        """One cold warm-up pass, checked like the timed ones, so results
        are compared across at least two passes."""
        self.op()
        for t in self.timings.values():
            t.clear()

    def op(self) -> float:
        import duckdb
        from backend_etl_spark.attest import dist_hash_compare
        from backend_etl_spark.catalog import REGISTRY
        from backend_etl_spark.session import release_all_persistent
        from backend_etl_spark.sources.loader import TABLES

        tables = f"{self.root}/pass_{self.passes:03d}"
        shutil.copytree(self.tables, tables)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        self.passes += 1
        total = 0.0
        for name in self.ENTRIES:
            tracer = self.tracer
            if tracer is not None:
                tracer.begin(len(self.records))
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(self.spark, tables)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            total += t2 - t0
            self.timings[name].append((t1 - t0, t2 - t1))
            if tracer is not None:
                rec = tracer.end(f"catalog.{name}", t0, t2,
                                 [("build", t0, t1), ("exec", t1, t2)])
                rec.update({"entry": name, "build_s": t1 - t0, "exec_s": t2 - t1,
                            "session.leaked_rdds": _persistent_rdds(self.spark)})
                self.records.append(rec)
            verdict = dist_hash_compare(df, con, REGISTRY[name].oracle)
            if not (verdict["schema_ok"] and verdict["count_ok"] and verdict["vals_ok"]):
                self.fails.append(f"{name} pass {self.passes} differs from its oracle: "
                                  f"{verdict['n_spark']} vs {verdict['n_oracle']} rows")
            s = verdict["spark"]
            self.hashes[name].add((s["n"], s["h1"], s["h2"]))
            release_all_persistent(self.spark)
        con.close()
        shutil.rmtree(tables)
        return total

    def check(self) -> list[str]:
        fails = list(self.fails)
        for name, seen in self.hashes.items():
            if len(seen) != 1:
                fails.append(f"{name} results differ across passes ({len(seen)} distinct)")
        return fails

    def summary(self, times: list[float]) -> dict:
        return {"pass_p50_s": stat(statistics.median(times) if times else None, "s", len(times)),
                "entry_s": {e: [round(b + x, 3) for b, x in t] for e, t in self.timings.items()}}

    def layer_metrics(self) -> dict:
        """Per-pass medians of per-entry records summed over each pass,
        plus each entry's median build and execute time."""
        n = len(self.ENTRIES)
        passes = [self.records[i:i + n] for i in range(0, len(self.records), n)]
        keys = [k for k in self.records[0] if k not in ("entry", "build_s", "exec_s")]
        out = {k: statistics.median(sum(r[k] for r in p) for p in passes) for k in keys}
        for name in self.ENTRIES:
            recs = [r for r in self.records if r["entry"] == name]
            out[f"catalog.{name}.build_s"] = statistics.median(r["build_s"] for r in recs)
            out[f"catalog.{name}.exec_s"] = statistics.median(r["exec_s"] for r in recs)
        return out


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


WORKLOADS = {w.name: w for w in (IngestTicks, Catalog)}
