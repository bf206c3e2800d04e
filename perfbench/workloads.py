"""The benchmark's workloads: what one operation is and how it is checked.

Each operation runs in two timed phases with an untimed pause between
them: phase A is the work (plan construction and the terminal action),
phase B is the storage-block release that ends every operation. The
pause holds the output checks and, in traced runs, the layer reads that
must happen before blocks are released. An operation's latency is the
sum of the two phases.

Reference answers come from DuckDB and are computed in ``prepare``,
before the set-up clock starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass, field


def fleet_groups(seed: int, n: int) -> tuple[str, ...]:
    """The seed's fleet: ``n`` group ids. The fake transport derives each
    group's devices (3-5) from its id, so the seed fixes the fleet."""
    rng = random.Random(f"fleet:{seed}")
    return tuple(f"grp-{rng.getrandbits(32):08x}" for _ in range(n))


def pass_order(members: list[str], seed: int, k: int) -> list[str]:
    """Order of pass ``k``: every member once, shuffled by the seed."""
    return random.Random(f"pass:{seed}:{k}").sample(members, len(members))


def value_hash(rows: list[dict], normalize) -> str:
    """Order-insensitive hash of a result set, through the oracle
    comparator's canonical form."""
    cols = sorted(rows[0]) if rows else []
    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()


@dataclass
class OpResult:
    latency_s: float
    ok: bool
    detail: str = ""
    pause_s: float = 0.0
    pause_cpu_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)


class _Timer:
    """Accumulates the timed phases of one operation and the pause
    between them (wall time and this process's CPU time)."""

    def __init__(self, cpu_fn):
        self.cpu_fn = cpu_fn
        self.timed = 0.0
        self.pause = 0.0
        self.pause_cpu = 0.0
        self._t = time.perf_counter()

    def pause_begin(self):
        now = time.perf_counter()
        self.timed += now - self._t
        self._t, self._cpu = now, self.cpu_fn()

    def pause_end(self):
        now = time.perf_counter()
        self.pause += now - self._t
        self.pause_cpu += self.cpu_fn() - self._cpu
        self._t = now

    def stop(self):
        self.timed += time.perf_counter() - self._t


class Workload:
    """``cpu_fn`` is the CPU clock the pauses are measured with: the
    benchmark passes the process tree's, so a pause's JVM work is
    subtracted along with this process's."""

    name: str

    def __init__(self, spec: dict, seed: int, work: str, normalize, cpu_fn):
        self.cpu_fn = cpu_fn
        self.spec = spec
        self.seed = seed
        self.work = work
        self.normalize = normalize
        self.members: list[str] = list(spec["members"])

    def passes(self):
        k = 0
        while True:
            yield pass_order(self.members, self.seed, k)
            k += 1


class FleetWorkload(Workload):
    """One scheduled invocation of the paper's dataflow per operation."""

    name = "etl_fleet"

    def __init__(self, spec, seed, work, normalize, cpu_fn):
        super().__init__(spec, seed, work, normalize, cpu_fn)
        inputs = spec["inputs"]
        self.groups = fleet_groups(seed, inputs["groups"])
        self.now = inputs["now"]
        self.hours = inputs["freshness_hours"]
        self.ack = os.path.join(work, "ack.json")

    def prepare(self) -> None:
        import duckdb

        from etl_geotab_spark.sources.geotab import connector_pipeline_oracle_sql

        sql = connector_pipeline_oracle_sql(
            groups=self.groups, now=self.now, freshness_hours=self.hours
        )
        con = duckdb.connect()
        rel = con.sql(sql)
        rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
        con.close()
        self.expected_count = len(rows)
        self.expected_hash = value_hash(rows, self.normalize)

    def _features(self, feats):
        """The registered query's output form: array and struct
        cells serialized the way the oracle renders them."""
        from pyspark.sql import functions as F

        return feats.withColumn("groups", F.to_json("groups")).withColumn(
            "geometry",
            F.format_string(
                '{"type":"Point","coordinates":[%.3f,%.3f]}',
                F.col("geometry.coordinates")[0],
                F.col("geometry.coordinates")[1],
            ),
        )

    def execute(self, spark, member, tracer, probe) -> OpResult:
        from pyspark.sql import functions as F

        from etl_geotab_spark.blocks import release_all_cached
        from etl_geotab_spark.pipeline.geotab import (
            run_connector_pipeline,
            to_geojson_features,
        )

        if os.path.exists(self.ack):
            os.remove(self.ack)
        if probe:
            probe.begin()
        timer = _Timer(self.cpu_fn)
        windows = {}
        with tracer.span("queries.build"):
            t = time.time()
            with tracer.span("sources.fetch"):
                feats = run_connector_pipeline(
                    spark,
                    groups=self.groups,
                    transport="fake",
                    now=F.lit(self.now).cast("timestamp"),
                    freshness=f"{self.hours} HOURS",
                )
            windows["fetch"] = (t, time.time())
            with tracer.span("pipeline.geojson"):
                features = to_geojson_features(feats)
        t = time.time()
        with tracer.span("queries.exec"), tracer.span("io.sink"):
            (
                features.write.format("geotab")
                .option("transport", "fake")
                .option("ackpath", self.ack)
                .mode("append")
                .save()
            )
        windows["exec"] = (t, time.time())
        timer.pause_begin()
        layers = probe.after_work(windows, features) if probe else {}
        with open(self.ack) as f:
            posted = json.load(f)["features_posted"]
        rows = [r.asDict() for r in self._features(feats).collect()]
        got_hash = value_hash(rows, self.normalize)
        ok = posted == self.expected_count and got_hash == self.expected_hash
        detail = "" if ok else (
            f"posted {posted}, hash {got_hash[:12]}; "
            f"oracle {self.expected_count}, {self.expected_hash[:12]}"
        )
        if probe:
            probe.before_release()
        timer.pause_end()
        with tracer.span("blocks.release"):
            t = time.perf_counter()
            released = release_all_cached(spark)
            release_s = time.perf_counter() - t
        timer.stop()
        if probe:
            layers.update(probe.after_release())
            layers.update({
                "blocks.release_s": release_s,
                "blocks.released": float(released),
                "pipeline.features": float(posted),
                "io.features_posted": float(posted),
            })
            status_rows = probe.status_rows
            layers["pipeline.yield"] = posted / status_rows if status_rows else 0.0
        return OpResult(timer.timed, ok, detail, timer.pause, timer.pause_cpu, layers)


class MixWorkload(Workload):
    """Registered queries run in whole passes, each member once per pass
    in a seed-shuffled order."""

    def __init__(self, name, spec, seed, work, normalize, cpu_fn):
        super().__init__(spec, seed, work, normalize, cpu_fn)
        self.name = name
        self.data_dir = os.path.join(work, "data")
        self.expected: dict[str, tuple[int, list, list]] = {}
        self.matched: set[str] = set()

    def prepare(self) -> None:
        import duckdb

        import datagen
        from etl_geotab_spark import queries as registry
        from etl_geotab_spark.io import TABLES

        datagen.write(self.seed, self.spec["inputs"]["sf"], self.data_dir)
        oracles = registry.oracle_sql()
        self.fns = registry.queries()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for m in self.members:
            rel = con.sql(oracles[m])
            cols = rel.columns
            rows = [dict(zip(cols, r)) for r in rel.fetchall()]
            self.expected[m] = (len(rows), sorted(cols), self.normalize(rows, sorted(cols)))
        con.close()

    def full_match(self, member: str, cols: list[str], rows: list[dict]) -> str:
        """Compare one result with the oracle the way
        ``tools/check_oracle.py`` does; returns "" on a match."""
        n, want_cols, want = self.expected[member]
        if len(rows) != n:
            return f"rowcount spark={len(rows)} duck={n}"
        if sorted(cols) != want_cols:
            return f"schema spark={sorted(cols)} duck={want_cols}"
        if self.normalize(rows, want_cols) != want:
            return "values differ"
        return ""

    def execute(self, spark, member, tracer, probe) -> OpResult:
        from etl_geotab_spark.blocks import release_all_cached

        fn = self.fns[member]
        if probe:
            probe.begin()
        timer = _Timer(self.cpu_fn)
        with tracer.span("queries.build"):
            df = fn(spark, self.data_dir)
        t = time.time()
        with tracer.span("queries.exec"):
            collected = df.collect()
        window = (t, time.time())
        timer.pause_begin()
        layers = probe.after_work({"exec": window}, df) if probe else {}
        timer.pause_end()
        with tracer.span("blocks.release"):
            t = time.perf_counter()
            released = release_all_cached(spark)
            release_s = time.perf_counter() - t
        timer.stop()
        # checks run after the operation: its rows are already collected
        check_t, check_cpu = time.perf_counter(), self.cpu_fn()
        if member in self.matched:
            n = self.expected[member][0]
            detail = "" if len(collected) == n else f"rowcount {len(collected)} != {n}"
        else:
            detail = self.full_match(member, df.columns, [r.asDict() for r in collected])
            self.matched.add(member)
        pause = timer.pause + time.perf_counter() - check_t
        pause_cpu = timer.pause_cpu + self.cpu_fn() - check_cpu
        if probe:
            layers.update(probe.after_release())
            layers["blocks.release_s"] = release_s
            layers["blocks.released"] = float(released)
            # the mixes bypass the connector and the sink
            layers["pipeline.features"] = layers["pipeline.yield"] = 0.0
            layers["io.features_posted"] = 0.0
        return OpResult(timer.timed, not detail, detail, pause, pause_cpu, layers)


def make(name: str, spec: dict, seed: int, work: str, normalize, cpu_fn) -> Workload:
    if name == "etl_fleet":
        return FleetWorkload(spec, seed, work, normalize, cpu_fn)
    return MixWorkload(name, spec, seed, work, normalize, cpu_fn)
