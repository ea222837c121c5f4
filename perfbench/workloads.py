"""The four benchmark workloads.

Each workload has the same shape: ``inputs()`` generates its files
from the seed (not timed), ``setup()`` makes the engine ready (timed
as ``setup_s``), ``measure(seconds)`` runs closed loops for the
measured window, ``finish()`` runs end-of-run checks, and
``contract()`` maps its samples onto the benchmark's end-to-end
metrics. Every engine call goes through a public function of a
package module; every result is checked against the generators'
tallies or an independent DuckDB computation.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time

import numpy as np

import gen
from harness import Ctx, closed_loop, median, p90, parquet_bytes

from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators import (
    gold,
    llm_prep,
    silver,
)
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.plans import registry
from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import (
    ddl,
    snaptable,
)

REL_TOL = 1e-9

# Input sizes. "full" is what BENCHMARK.json runs; "tiny" is for the
# benchmark's own tests.
SIZES = {
    "full": {
        "etl_rows": 20_000, "etl_days": 20,
        "dash_rows": 20_000, "dash_days": 30,
        "mut_rows": 3_000, "mut_days": 20, "mut_batch": 300,
        "docs": 1_500,
        "stations": 120,
    },
    "tiny": {
        "etl_rows": 600, "etl_days": 4,
        "dash_rows": 600, "dash_days": 4,
        "mut_rows": 600, "mut_days": 4, "mut_batch": 20,
        "docs": 300,
        "stations": 12,
    },
}


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def mismatch(what: str, got, want) -> str:
    return f"{what}: got {got!r}, want {want!r}"


# ---------------------------------------------------------------------------
# Shared ETL: bronze CSV -> silver -> gold snapshot table
# ---------------------------------------------------------------------------
def check_silver(res, tally: gen.EvTally) -> str | None:
    if (res.good_count, res.bad_count) != (tally.good, tally.bad):
        return mismatch("silver good/bad", (res.good_count, res.bad_count), (tally.good, tally.bad))
    return None


def check_totals(what: str, count: int, kwh, want: list[float]) -> str | None:
    """A (row count, kWh sum) answer against the expected kWh values."""
    if count != len(want) or not close(float(kwh or 0.0), sum(want)):
        return mismatch(what, (count, kwh), (len(want), sum(want)))
    return None


def check_gold(rows: int, kwh: float, minutes: float, tally: gen.EvTally) -> str | None:
    want_kwh = sum(s.kwh for s in tally.clean)
    want_min = sum(s.duration_min for s in tally.clean)
    if rows != tally.good:
        return mismatch("gold rows", rows, tally.good)
    if not (close(kwh, want_kwh) and close(minutes, want_min)):
        return mismatch("gold sums", (kwh, minutes), (want_kwh, want_min))
    return None


def gold_sums(spark, table: str) -> tuple[int, float, float]:
    from pyspark.sql import functions as F

    r = (
        snaptable.read_snapshot(spark, table)
        .agg(F.count("*"), F.sum("kwhTotal"), F.sum("session_duration_minutes"))
        .collect()[0]
    )
    return int(r[0]), float(r[1] or 0.0), float(r[2] or 0.0)


def etl(ctx: Ctx, bronze: str, tally: gen.EvTally, lake: str, rerun: bool, tag: str = "etl"):
    """One ETL pass, each job timed; returns an error message or None."""
    spark = ctx.spark
    res = ctx.timed(f"{tag}.silver", silver.run_silver, spark, bronze, f"{lake}/silver", f"{lake}/quarantine")
    n1 = ctx.timed(f"{tag}.gold", gold.run_gold, spark, f"{lake}/silver", f"{lake}/gold", table_format="snapshot")
    n2 = n1
    if rerun:
        n2 = ctx.timed(f"{tag}.gold_rerun", gold.run_gold, spark, f"{lake}/silver", f"{lake}/gold", table_format="snapshot")
    problem = check_silver(res, tally)
    if problem or (n1, n2) != (tally.good, tally.good):
        return problem or mismatch("run_gold rows", (n1, n2), tally.good)
    return None


def writer_counts(lake: str) -> dict[str, float]:
    n1, b1 = parquet_bytes(f"{lake}/silver")
    n2, b2 = parquet_bytes(f"{lake}/quarantine")
    return {"writers.files_written": n1 + n2, "writers.bytes_written": b1 + b2}


def ev_inputs(ctx: Ctx, rows: int, days: int) -> tuple[str, gen.EvTally]:
    bronze = ctx.path("input", "bronze", "ev_sessions.csv")
    return bronze, gen.ev_bronze_csv(bronze, ctx.seed, rows, days, SIZES[ctx.size]["stations"])


# ---------------------------------------------------------------------------
# ev_etl
# ---------------------------------------------------------------------------
class EvEtl:
    """Bronze CSV -> silver -> gold snapshot table, plus an idempotent
    gold rerun, on a fresh lake each pass. The tracked pass is the
    first one, in a fresh engine: the reference runs each job as its
    own batch submission, so users pay the cold start every time."""

    min_steps = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.state: dict[str, float] = {}

    def inputs(self) -> None:
        s = SIZES[self.ctx.size]
        self.bronze, self.tally = ev_inputs(self.ctx, s["etl_rows"], s["etl_days"])

    def setup(self) -> None:
        pass

    def cleanup_setup(self) -> None:
        pass

    def _pass(self, i: int) -> str | None:
        ctx = self.ctx
        lake = ctx.path("lake", str(i))
        t = time.perf_counter()
        problem = etl(ctx, self.bronze, self.tally, lake, rerun=True)
        ctx.sample("etl.pass", time.perf_counter() - t)
        with ctx.tracer.paused():
            problem = problem or check_gold(*gold_sums(ctx.spark, f"{lake}/gold"), self.tally)
            if not self.state:
                self.state = {**writer_counts(lake), **ctx.table_state(f"{lake}/gold")}
        shutil.rmtree(lake, ignore_errors=True)
        return problem

    def measure(self, seconds: float, min_steps: int) -> int:
        return closed_loop(
            self.ctx, lambda _c, i: self.ctx.op(f"etl pass {i}", self._pass, i), seconds, min_steps
        )

    def finish(self) -> None:
        pass

    def contract(self) -> dict[str, float]:
        s, ctx = self.ctx.samples, self.ctx
        silver_s, gold_s, pass_s = s["etl.silver"][0], s["etl.gold"][0], s["etl.pass"][0]
        ctx.put("silver_job_s", silver_s, "s", 1)
        ctx.put("gold_job_s", gold_s, "s", 1)
        ctx.put("gold_rerun_s", s["etl.gold_rerun"][0], "s", 1)
        ctx.put("etl_rows_per_s", self.tally.rows / pass_s, "1/s", 1)
        if len(s["etl.pass"]) > 1:
            ctx.put("warm_etl_pass_p50_s", median(s["etl.pass"][1:]), "s", len(s["etl.pass"]) - 1)
        ctx.put("quarantined_share", self.tally.bad / self.tally.rows, "ratio")
        bplb = self.state["table_bytes_with_manifests"] / self.state["snaptable.live_bytes"]
        ctx.put("bytes_per_live_byte", bplb, "ratio")
        return {
            "main_op_s": silver_s,
            "second_op_s": gold_s,
            "items_per_s": self.tally.rows / pass_s,
            "bytes_per_live_byte": bplb,
        }


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------
AGG_QUERIES = ("avg_duration_per_location", "peak_hours", "station_utilization", "usage_share")


def expected_aggs(clean: list[gen.EvSession]) -> dict[str, dict]:
    """The four key metrics computed in plain Python from the tally."""
    by_loc: dict[str, list[float]] = {}
    hours: dict[int, int] = {}
    hrs: dict[str, float] = {}
    days: dict[str, set] = {}
    share: dict[tuple, int] = {}
    for s in clean:
        by_loc.setdefault(str(s.location_id), []).append(s.duration_min)
        hours[s.hour] = hours.get(s.hour, 0) + 1
        st = str(s.station_id)
        hrs[st] = hrs.get(st, 0.0) + s.charge_hrs
        days.setdefault(st, set()).add(s.event_date)
        key = (s.platform, s.facility)
        share[key] = share.get(key, 0) + 1
    return {
        "avg_duration_per_location": {k: sum(v) / len(v) for k, v in by_loc.items()},
        "peak_hours": hours,
        "station_utilization": {k: hrs[k] / (24.0 * len(days[k])) for k in hrs},
        "usage_share": {k: v / len(clean) for k, v in share.items()},
    }


def agg_frame(df, name: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if name == "avg_duration_per_location":
        return df.groupBy("locationId").agg(F.avg("session_duration_minutes"))
    if name == "peak_hours":
        return df.groupBy(F.hour("created").alias("h")).count()
    if name == "station_utilization":
        return df.groupBy("stationId").agg(
            F.sum("chargeTimeHrs") / (F.lit(24.0) * F.countDistinct("event_date"))
        )
    return (
        df.groupBy("platform", "facilityType")
        .count()
        .select(
            F.struct("platform", "facilityType"),
            F.col("count") / F.sum("count").over(Window.partitionBy()),
        )
    )


def compare_map(name: str, rows, want: dict) -> str | None:
    got = {tuple(r[0]) if not isinstance(r[0], (str, int)) else r[0]: r[1] for r in rows}
    if set(got) != set(want):
        return mismatch(f"{name} keys", sorted(map(str, got))[:5], sorted(map(str, want))[:5])
    bad = [k for k in want if not close(float(got[k]), float(want[k]))]
    return mismatch(f"{name} values", {k: got[k] for k in bad[:3]}, {k: want[k] for k in bad[:3]}) if bad else None


class Dashboard:
    """Analyst queries over the gold table the ETL built in setup:
    full-table aggregates (the four key metrics) and selective
    station/day lookups, from two closed-loop clients. The tracked
    figures cover each client's first ``min_steps`` queries; queries
    after those, until the window closes, feed only the report."""

    clients = 2
    min_steps = 30
    agg_every = 5  # one aggregate per this many queries of a client

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.state: dict[str, float] = {}

    def inputs(self) -> None:
        s = SIZES[self.ctx.size]
        self.bronze, self.tally = ev_inputs(self.ctx, s["dash_rows"], s["dash_days"])
        self.want_agg = expected_aggs(self.tally.clean)
        lookups: dict[tuple, list[float]] = {}
        for x in self.tally.clean:
            lookups.setdefault((str(x.station_id), x.event_date.isoformat()), []).append(x.kwh)
        self.want_lookup = lookups
        self.pairs = sorted(lookups)
        self.done_at = [0.0] * self.clients

    def setup(self) -> None:
        ctx = self.ctx
        self.lake = ctx.path("lake")
        self.table = f"{self.lake}/gold"
        ctx.op("setup etl", etl, ctx, self.bronze, self.tally, self.lake, False, "setup")
        self.live_files = sum(p["n_files"] for p in snaptable.table_layout(self.table))
        for name in AGG_QUERIES:  # every query shape before timing
            ctx.op(f"warm-up {name}", self._run_agg, name)
        for i in range(1, 5):
            ctx.op("warm-up lookup", self._run_lookup, 0, i)

    def cleanup_setup(self) -> None:
        self.state = {**writer_counts(self.lake), **self.ctx.table_state(self.table)}

    def _lookup_key(self, client: int, i: int) -> tuple[str, str]:
        rng = np.random.default_rng([self.ctx.seed, 4, client, i])
        if rng.random() < 0.9:
            return self.pairs[int(rng.integers(0, len(self.pairs)))]
        st = 100_000 + int(rng.integers(0, SIZES[self.ctx.size]["stations"]))
        day = gen.EPOCH_DAY + dt.timedelta(days=int(rng.integers(0, self.tally.days)))
        return str(st), day.isoformat()

    def _plan_counts(self, df) -> None:
        if self.ctx.tracer.active():
            t = time.perf_counter()
            n = len(df.inputFiles())
            self.ctx.sample("plan.files", n)
            self.ctx.sample("plan.kept", n / self.live_files)
            self.ctx.tracer.add_overhead(time.perf_counter() - t)

    def _run_agg(self, name: str) -> str | None:
        ctx = self.ctx
        df = agg_frame(snaptable.read_snapshot(ctx.spark, self.table), name)
        self._plan_counts(df)
        with ctx.tracer.span("spark.execute"):
            rows = df.collect()
        return compare_map(name, rows, self.want_agg[name])

    def _run_lookup(self, client: int, i: int) -> str | None:
        from pyspark.sql import functions as F

        ctx = self.ctx
        st, day = self._lookup_key(client, i)
        if i % 2 == 0:
            df = snaptable.scan(
                ctx.spark, self.table, [("event_date", "=", day), ("stationId", "=", st)]
            ).agg(F.count("*"), F.sum("kwhTotal"))
        else:
            view = snaptable.register_snapshot_view(ctx.spark, self.table, f"gold_client{client}")
            df = ddl.execute_sql(
                ctx.spark,
                f"SELECT COUNT(*), SUM(kwhTotal) FROM {view} "
                f"WHERE event_date = DATE'{day}' AND stationId = '{st}'",
            )
        self._plan_counts(df)
        with ctx.tracer.span("spark.execute"):
            r = df.collect()[0]
        return check_totals(f"lookup {st}/{day}", r[0], r[1], self.want_lookup.get((st, day), []))

    def _query(self, client: int, i: int) -> None:
        ctx = self.ctx
        extra = "" if i < self.min_steps else ".extra"
        t = time.perf_counter()
        if i % self.agg_every == 0:
            name = AGG_QUERIES[(i // self.agg_every + client) % len(AGG_QUERIES)]
            ctx.op(f"agg {name}", self._run_agg, name)
            ctx.sample("dash.agg" + extra, time.perf_counter() - t)
        else:
            ctx.op("lookup", self._run_lookup, client, i)
            ctx.sample("dash.lookup" + extra, time.perf_counter() - t)
        if i == self.min_steps - 1:
            self.done_at[client] = time.perf_counter()

    def measure(self, seconds: float, min_steps: int) -> int:
        t = time.perf_counter()
        n = closed_loop(self.ctx, self._query, seconds, min_steps, clients=self.clients)
        # throughput of the tracked queries: both clients' first min_steps
        self.ctx.sample("dash.qps", self.clients * self.min_steps / (max(self.done_at) - t))
        return n

    def finish(self) -> None:
        pass

    def contract(self) -> dict[str, float]:
        s, ctx = self.ctx.samples, self.ctx
        qps = median(s["dash.qps"])
        ctx.put("agg_query_p50_s", median(s["dash.agg"]), "s", len(s["dash.agg"]))
        ctx.put("lookup_query_p50_s", median(s["dash.lookup"]), "s", len(s["dash.lookup"]))
        ctx.put("lookup_query_p90_s", p90(s["dash.lookup"]), "s", len(s["dash.lookup"]))
        ctx.put("queries_per_s", qps, "1/s", len(s["dash.agg"]) + len(s["dash.lookup"]))
        ctx.put("queries_after_tracked", len(s.get("dash.agg.extra", [])) + len(s.get("dash.lookup.extra", [])), "count")
        bplb = self.state["table_bytes_with_manifests"] / self.state["snaptable.live_bytes"]
        return {
            "main_op_s": median(s["dash.agg"]),
            "second_op_s": median(s["dash.lookup"]),
            "items_per_s": qps,
            "bytes_per_live_byte": bplb,
        }


# ---------------------------------------------------------------------------
# lake_mutations
# ---------------------------------------------------------------------------
# gold-table columns in gen.EvSession.gold_row order (operators.gold)
GOLD_DDL = (
    "sessionId string, userId string, stationId string, locationId string, "
    "kwhTotal double, dollars double, distance double, chargeTimeHrs double, "
    "facilityType string, platform string, weekday string, created timestamp, "
    "ended timestamp, event_date date, session_duration_minutes double, "
    "avg_cost_per_kwh double"
)


class LakeMutations:
    """Commit cycles beside reads on one table: append a new day,
    MERGE a CDC batch, delete with deletion vectors, overwrite one
    day, read. OPTIMIZE + VACUUM every few cycles. The tracked figures
    are medians over the first ``min_steps`` cycles of a fresh engine:
    a CDC job applying that many batches."""

    maintain_every = 2
    checkpoint = 3  # state counts are taken after this many cycles
    min_steps = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.state: dict[str, float] = {}
        self.cycles = 0

    def inputs(self) -> None:
        s = SIZES[self.ctx.size]
        self.batch = s["mut_batch"]
        self.next_id = 1_000_000
        rng = np.random.default_rng([self.ctx.seed, 3])
        start = self._new(rng, s["mut_rows"], list(range(s["mut_days"])))
        self.book = {str(x.session_id): x for x in start}

    def setup(self) -> None:
        ctx = self.ctx
        self.table = ctx.path("lake", "gold")
        rows = [x.gold_row() for x in self.book.values()]
        snaptable.create_table(self._frame(rows), self.table, ["event_date"])
        snaptable.optimize(ctx.spark, self.table)

    def cleanup_setup(self) -> None:
        pass

    # -- batches ------------------------------------------------------------
    def _new(self, rng, n: int, days: list[int]) -> list[gen.EvSession]:
        out = [
            good
            for _row, good, _d, _z in gen.ev_sessions(
                rng, n, self.next_id, days, SIZES[self.ctx.size]["stations"], dirty=False
            )
        ]
        self.next_id += n
        return out

    def _frame(self, rows: list[tuple]):
        return self.ctx.spark.createDataFrame(rows, GOLD_DDL)

    def _days(self) -> list[dt.date]:
        return sorted({x.event_date for x in self.book.values()})

    def _cycle(self, i: int) -> str | None:
        from pyspark.sql import functions as F

        ctx, spark, t0 = self.ctx, self.ctx.spark, time.perf_counter()
        rng = np.random.default_rng([ctx.seed, 5, i])
        days = self._days()
        offset = (days[-1] - gen.EPOCH_DAY).days + 1

        added = self._new(rng, self.batch, [offset])
        snaptable.append(self._frame([x.gold_row() for x in added]), self.table)
        self.book.update((str(x.session_id), x) for x in added)

        dm = days[int(rng.integers(0, len(days)))]
        on_day = sorted((k for k, x in self.book.items() if x.event_date == dm))[: self.batch // 2]
        fresh = self._new(rng, self.batch // 2, [(dm - gen.EPOCH_DAY).days])
        cdc = [self.book[k].gold_row(kwh=self.book[k].kwh + 1.0) for k in on_day]
        snaptable.merge_into(spark, self.table, self._frame(cdc + [x.gold_row() for x in fresh]), ["sessionId"])
        for k in on_day:
            x = self.book[k]
            self.book[k] = gen.EvSession(**{**x.__dict__, "kwh": x.kwh + 1.0})
        self.book.update((str(x.session_id), x) for x in fresh)

        victim = self.book[sorted(self.book)[int(rng.integers(0, len(self.book)))]]
        dd, st = victim.event_date, victim.station_id
        snaptable.delete_where(
            spark, self.table, [("event_date", "=", dd.isoformat()), ("stationId", "=", str(st))], use_dv=True
        )
        for k in [k for k, x in self.book.items() if x.event_date == dd and x.station_id == st]:
            del self.book[k]

        do = days[int(rng.integers(0, len(days)))]
        repl = self._new(rng, self.batch, [(do - gen.EPOCH_DAY).days])
        snaptable.overwrite_partitions(self._frame([x.gold_row() for x in repl]), self.table)
        for k in [k for k, x in self.book.items() if x.event_date == do]:
            del self.book[k]
        self.book.update((str(x.session_id), x) for x in repl)

        t = time.perf_counter()
        df = snaptable.read_snapshot(spark, self.table).agg(F.count("*"), F.sum("kwhTotal"))
        with ctx.tracer.span("spark.execute"):
            r = df.collect()[0]
        end = time.perf_counter()
        ctx.sample("mut.read", end - t)
        ctx.sample("mut.cycle", end - t0)
        self.cycles += 1

        want_n = len(self.book)
        problem = check_totals("read after commit", r[0], r[1], [x.kwh for x in self.book.values()])
        if not problem and snaptable.metadata_count(self.table) != want_n:
            problem = mismatch("metadata_count", snaptable.metadata_count(self.table), want_n)
        if self.cycles % self.maintain_every == 0:
            t = time.perf_counter()
            snaptable.optimize(spark, self.table)
            snaptable.vacuum(self.table, retain_last=1, grace_seconds=0)
            ctx.sample("mut.maintenance", time.perf_counter() - t)
            if snaptable.metadata_count(self.table) != want_n:
                problem = problem or "row count changed by optimize/vacuum"
            if "snaptable.bytes_rewritten" not in self.state:
                with ctx.tracer.paused():
                    live = ctx.table_state(self.table)["snaptable.live_bytes"]
                self.state["snaptable.bytes_rewritten"] = live
        if self.cycles == self.checkpoint:
            with ctx.tracer.paused():
                self.state.update(ctx.table_state(self.table))
        return problem

    def measure(self, seconds: float, min_steps: int) -> int:
        return closed_loop(
            self.ctx, lambda _c, i: self.ctx.op(f"cycle {self.cycles}", self._cycle, self.cycles), seconds, min_steps
        )

    def finish(self) -> None:
        def contents() -> str | None:
            got = {
                r[0]: r[1]
                for r in snaptable.read_snapshot(self.ctx.spark, self.table)
                .select("sessionId", "kwhTotal")
                .collect()
            }
            want = {k: x.kwh for k, x in self.book.items()}
            if set(got) != set(want) or any(not close(got[k], want[k]) for k in want):
                return mismatch("final contents", len(got), len(want))
            return None

        with self.ctx.tracer.paused():
            self.ctx.op("final contents", contents)

    def contract(self) -> dict[str, float]:
        s, ctx = self.ctx.samples, self.ctx
        k = self.min_steps
        cycle_s, read_s = median(s["mut.cycle"][:k]), median(s["mut.read"][:k])
        ctx.put("mutation_cycle_p50_s", cycle_s, "s", k)
        ctx.put("read_after_commit_p50_s", read_s, "s", k)
        if len(s["mut.cycle"]) > k:
            ctx.put("later_cycle_p50_s", median(s["mut.cycle"][k:]), "s", len(s["mut.cycle"]) - k)
        ctx.put("maintenance_s", median(s.get("mut.maintenance", [])), "s", len(s.get("mut.maintenance", [])))
        bplb = self.state["table_bytes_with_manifests"] / self.state["snaptable.live_bytes"]
        ctx.put("bytes_per_live_byte", bplb, "ratio")
        rows_per_cycle = 3 * self.batch  # append + merge batch + overwrite
        return {
            "main_op_s": cycle_s,
            "second_op_s": read_s,
            "items_per_s": rows_per_cycle / cycle_s,
            "bytes_per_live_byte": bplb,
        }


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------
def duck_oracle(directory: str, sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(directory, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


FUNNEL = ("n_corpus", "n_after_dedup", "n_after_quality", "n_after_decontam", "n_after_mixture")


def lsh_key(pairs) -> list[tuple]:
    return sorted((int(a), int(b), round(float(j), 9)) for a, b, j in pairs)


def check_corpus(funnel: dict, want_funnel: dict, pairs, want_pairs: list[tuple]) -> str | None:
    """The prep funnel and the MinHash-LSH pairs against the DuckDB
    oracles of the registry."""
    if funnel != want_funnel:
        return mismatch("llm_prep funnel", funnel, want_funnel)
    got = lsh_key(pairs)
    if got != want_pairs:
        return mismatch("minhash lsh pairs", got[:3], want_pairs[:3])
    return None


class CorpusPrep:
    """LLM corpus preparation into a snapshot table, then MinHash-LSH
    near-duplicate detection, over a generated corpus. Like ``ev_etl``
    a batch job: the tracked iteration is the first, in a fresh
    engine."""

    min_steps = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.state: dict[str, float] = {}

    def inputs(self) -> None:
        s = SIZES[self.ctx.size]
        self.dir = self.ctx.path("input", "corpus")
        self.tally = gen.corpus_parquet(self.dir, self.ctx.seed, s["docs"])
        self.lsh = registry.get_queries()["dedup_minhash_lsh"]
        (row,) = duck_oracle(self.dir, llm_prep.ORACLE["llm_corpus_prep"])
        self.want_funnel = dict(zip(FUNNEL, row))
        from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators import dedup

        self.want_pairs = lsh_key(duck_oracle(self.dir, dedup.ORACLE["dedup_minhash_lsh"]))

    def setup(self) -> None:
        pass

    def cleanup_setup(self) -> None:
        pass

    def _iteration(self, i: int) -> str | None:
        ctx = self.ctx
        table = ctx.path("prep", str(i))
        _v, funnel = ctx.timed("corpus.prep", llm_prep.llm_prep, ctx.spark, self.dir, table)
        pairs = ctx.timed("dedup.minhash_lsh", lambda: self.lsh(ctx.spark, self.dir).collect())
        problem = check_corpus(funnel, self.want_funnel, pairs, self.want_pairs)
        if not problem and snaptable.metadata_count(table) != funnel["n_after_mixture"]:
            problem = mismatch("survivor rows", snaptable.metadata_count(table), funnel["n_after_mixture"])
        if not self.state:
            with ctx.tracer.paused():
                self.state = ctx.table_state(table)
        shutil.rmtree(table, ignore_errors=True)
        return problem

    def measure(self, seconds: float, min_steps: int) -> int:
        return closed_loop(
            self.ctx, lambda _c, i: self.ctx.op(f"prep {i}", self._iteration, i), seconds, min_steps
        )

    def finish(self) -> None:
        pass

    def contract(self) -> dict[str, float]:
        s, ctx = self.ctx.samples, self.ctx
        prep_s, lsh_s = s["corpus.prep"][0], s["dedup.minhash_lsh"][0]
        per_doc = self.tally.docs / (prep_s + lsh_s)
        ctx.put("corpus_docs_per_s", per_doc, "1/s", 1)
        ctx.put("llm_prep_s", prep_s, "s", 1)
        ctx.put("minhash_lsh_s", lsh_s, "s", 1)
        bplb = self.state["table_bytes_with_manifests"] / self.state["snaptable.live_bytes"]
        return {
            "main_op_s": prep_s,
            "second_op_s": lsh_s,
            "items_per_s": per_doc,
            "bytes_per_live_byte": bplb,
        }


WORKLOADS = {
    "ev_etl": EvEtl,
    "dashboard": Dashboard,
    "lake_mutations": LakeMutations,
    "corpus_prep": CorpusPrep,
}
