"""What one benchmark run does against the package: the seeded fixture, the
flagship tier pipeline with its closure leg, the tier-store cycle, and the
correctness checks. Only public functions of ``covsar_spark`` are called.

Every workload runs the same operations; the workloads differ in their
inputs (row density and where late rows land), see README.md.
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covsar_spark.datagen import stable_ts_offset, write_tokens
from covsar_spark.operators.compress import decompress_chunks
from covsar_spark.operators.refresh import refresh_tier_table
from covsar_spark.operators.rollup import rollup_tokens, with_event_time
from covsar_spark.plans.pipeline import run_tiers
from covsar_spark.schemas import EPOCH0_UNIX, TIERS
from covsar_spark.sources.tables import (
    apply_retention,
    compact_tier,
    downsample_tier,
    read_tier,
    write_tier,
)

from measure import Tracer, median

DAY = 86400
SOURCES = 32
HORIZON_DAYS = 4
HORIZON_S = HORIZON_DAYS * DAY
LATE_SHARE = 0.01  # share of the rows inside the late window held out of the base
LATE_KEYS = 64  # late rows carry a key in [0, LATE_KEYS); batch i takes key % B == i
SECONDS_PER_BATCH = 6  # --seconds / this = number of late batches (at least 3)
MIN_BATCHES = 3
SHORT_READS = 4  # short range reads after each refresh
RETAIN_FROM_DAY = 1  # retention drops day 0 of the 1m tier ...
DOWNSAMPLE_BEFORE_DAY = 2  # ... and downsampling thins the days left before day 2 ...
DOWNSAMPLE_POINTS = 64  # ... to this many points per source and day


@dataclass(frozen=True)
class Workload:
    rows: int
    late_days: int  # late rows are drawn from the last ``late_days`` of the horizon


WORKLOADS = {
    # the flagship bench density, about 0.39 rows per (source, minute) cell,
    # so the span kernel fills most 1m points; late rows land in the last 2 days
    "sparse_recent": Workload(rows=72_000, late_days=2),
    # twice the rows, so scan and rollup carry more and fewer points are
    # filled; late rows land in the last 3 days, so every refresh rewrites
    # 3 of the 4 day partitions
    "dense_backfill": Workload(rows=144_000, late_days=3),
}


def n_batches(seconds: int) -> int:
    return max(MIN_BATCHES, seconds // SECONDS_PER_BATCH)


# ---------------------------------------------------------------------------
# fixture
# ---------------------------------------------------------------------------


def make_fixture(root: str, name: str, seed: int) -> str:
    """Seeded tokens table split into ``base`` (the pipeline input and the
    store's first write) and ``late`` (held-out rows with a batch key).
    Cached per (workload, seed)."""
    wl = WORKLOADS[name]
    out = os.path.join(root, f"{name}-{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    full = os.path.join(out, "full")
    write_tokens(
        full, wl.rows, seed=seed, n_sources=SOURCES, payload_tokens=False, horizon_s=HORIZON_S
    )
    tbl = pq.read_table(full, columns=["doc_id", "n_tok", "source"])
    off = stable_ts_offset(tbl.column("doc_id").to_pylist(), HORIZON_S)
    rng = np.random.default_rng(seed)
    late = (off >= HORIZON_S - wl.late_days * DAY) & (rng.random(len(off)) < LATE_SHARE)
    key = rng.integers(0, LATE_KEYS, len(off))
    base = tbl.filter(~late)
    os.makedirs(os.path.join(out, "base"))
    n_files = 8
    step = -(-base.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(base.slice(i * step, step), os.path.join(out, "base", f"part-{i}.parquet"))
    os.makedirs(os.path.join(out, "late"))
    pq.write_table(
        tbl.append_column("key", [key]).filter(late),
        os.path.join(out, "late", "part-0.parquet"),
    )
    # the expected figures of the base table, computed here without Spark
    epoch = EPOCH0_UNIX + off[~late]
    src = np.asarray(tbl.column("source").to_pylist(), dtype=object)[~late]
    expect = {
        "tokens": int(np.asarray(tbl.column("n_tok"))[~late].sum()),
        "bounds": {
            s: [int(epoch[src == s].min()), int(epoch[src == s].max())] for s in np.unique(src)
        },
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    shutil.rmtree(full)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _union(frames) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality by an order-free checksum: row count and the sums of
    the two 32-bit halves of each row's 64-bit hash, for both sides in one job."""
    h = F.xxhash64(*a.columns)
    lo, hi = h.bitwiseAND(0xFFFFFFFF), F.shiftright(h, 32).bitwiseAND(0xFFFFFFFF)

    def sums(df, side):
        return df.select(F.lit(side).alias("side"), lo.alias("lo"), hi.alias("hi"))

    rows = (
        sums(a, 0).unionByName(sums(b.select(*a.columns), 1))
        .groupBy("side").agg(F.count("*"), F.sum("lo"), F.sum("hi"))
        .collect()
    )
    got = {r[0]: tuple(r[1:]) for r in rows}
    return got.get(0, (0, None, None)) == got.get(1, (0, None, None))


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "/_" not in d[len(path):]
    ]


def _first_half() -> F.Column:
    """Rows of the first half of the sources: a tier's first append."""
    return F.col("source") < F.lit(f"s{SOURCES // 2:03d}")


def unpersist(tiers: dict) -> None:
    """Drop the cached tiers and wait until their blocks are freed, so the
    freeing does not overlap the next timed operation."""
    for d in tiers.values():
        for key in ("rollup", "fused", "closure"):
            if key in d:
                d[key].unpersist(blocking=True)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


@dataclass
class Run:
    """One benchmark run's state and everything it measured."""

    spark: SparkSession
    workload: Workload
    fixture: str
    store: str  # directory the tier tables live in
    seed: int
    batches: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    m: dict = field(default_factory=dict)  # measurements by name

    def __post_init__(self):
        self.tokens = self.spark.read.parquet(os.path.join(self.fixture, "base"))
        self.late = self.spark.read.parquet(os.path.join(self.fixture, "late"))
        self.paths = {t: os.path.join(self.store, f"tier_{t}") for t in TIERS}
        self.chunk_path = os.path.join(self.store, "chunks")

    # -- correctness ------------------------------------------------------

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    # -- pipeline ---------------------------------------------------------

    def pipeline(self) -> tuple[dict, int]:
        """The flagship tier pipeline with its closure leg, materialized as
        ``bench.run_flagship`` does. Records its wall without the closure job
        and with it; returns the (persisted) tiers and the rolled-up
        points. The JVM and this process collect their garbage first, so a
        collection left over from earlier operations does not land in the
        timed iteration."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        tiers = run_tiers(
            self.tokens, with_eigen=True, with_chunks=True, persist=True,
            with_closure=True, horizon_s=HORIZON_S,
        )
        _noop(_union(d["filled"] for d in tiers.values()))
        fused = _union(d["fused"] for d in tiers.values())
        _noop(fused)
        points = int(fused.agg(F.sum("n_points")).first()[0])
        t1 = time.perf_counter()
        _noop(_union(d["closure"] for d in tiers.values()))
        t2 = time.perf_counter()
        self.m.update(iteration_s=t1 - t0, iteration_closure_s=t2 - t0)
        self.attempted += 1
        return tiers, points

    def traced_pipeline(self) -> tuple[dict, int]:
        """The same pipeline with every layer boundary persisted and counted
        in turn, each inside its own span."""
        tr, m = self.tracer, self.m
        with tr.span("plans.pipeline.iteration"):
            with tr.span("sources.scan"):
                tokens = self.tokens.persist()
                m["scan_rows"] = tokens.count()
            with tr.span("plans.pipeline.plan"):
                tiers = run_tiers(
                    tokens, with_eigen=True, with_chunks=True, persist=True,
                    with_closure=True, horizon_s=HORIZON_S,
                )
            observed = 0
            for tier, span in (("1m", "rollup_1m"), ("1h", "cascade_1h"), ("1d", "cascade_1d")):
                with tr.span(f"operators.rollup.{span}"):
                    observed += tiers[tier]["rollup"].count()
            spans = 0
            for tier in TIERS:
                with tr.span(f"operators.tier_kernel.{tier}"):
                    spans += tiers[tier]["fused"].count()
            with tr.span("plans.pipeline.sink_filled"):
                _noop(_union(d["filled"] for d in tiers.values()))
            with tr.span("plans.pipeline.sink_fused"):
                fused = _union(d["fused"] for d in tiers.values())
                _noop(fused)
                points = int(fused.agg(F.sum("n_points")).first()[0])
            closure_spans = 0
            for tier in TIERS:
                with tr.span(f"operators.closure_correct.{tier}"):
                    tiers[tier]["closure"] = tiers[tier]["closure"].persist()
                    closure_spans += tiers[tier]["closure"].count()
        tokens.unpersist()
        m.update(
            observed_points=observed,
            kernel_spans=spans,
            filled_share=(points - observed) / points,
            shuffled_rows=observed + spans,
            closure_spans=closure_spans,
        )
        return tiers, points

    # -- tier store -------------------------------------------------------

    def write(self, tiers: dict, points: int) -> None:
        """Write the three tier tables and the chunk table (one timed op).
        The 1m tier arrives as two appends, one per half of the sources, as
        a stream of micro-batches would leave it: every day holds files of
        both, and the days no refresh rewrites are left for compaction."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("sources.tables.write_tier"):
            roll_1m = tiers["1m"]["rollup"]
            write_tier(roll_1m.filter(_first_half()), self.paths["1m"], "1m")
            write_tier(roll_1m.filter(~_first_half()), self.paths["1m"], "1m", mode="append")
            for tier in ("1h", "1d"):
                write_tier(tiers[tier]["rollup"], self.paths[tier], tier)
        with tr.span("operators.compress.write_chunks"):
            _union(
                d["chunks"].withColumn("tier", F.lit(t)) for t, d in tiers.items()
            ).write.mode("overwrite").partitionBy("tier").parquet(self.chunk_path)
        self.m["write_s"] = time.perf_counter() - t0
        self.attempted += 1
        rows = sum(tiers[t]["rollup"].count() for t in TIERS)
        files = [f for t in TIERS for f in _parquet_files(self.paths[t])]
        nbytes = sum(os.path.getsize(f) for f in files)
        self.m.update(
            write_points=rows + points,
            stored_rows=rows,
            write_bytes=nbytes,
            write_files=len(files),
        )

    def _read_plan(self) -> list[list[tuple]]:
        """Seeded reads issued after each refresh: ``SHORT_READS`` short
        (1-day, all sources) range reads and, after the first refresh, one
        point read (one source's 1m chunks over a day) and one long (whole
        horizon, one source) range read."""
        rng = random.Random(self.seed)
        sources = [f"s{i:03d}" for i in range(SOURCES)]
        plan = []
        for i in range(self.batches):
            reads = [("short", rng.randrange(HORIZON_DAYS), None) for _ in range(SHORT_READS)]
            if i == 0:
                reads.insert(0, ("point", rng.randrange(HORIZON_DAYS), rng.choice(sources)))
                reads.append(("long", 0, rng.choice(sources)))
            plan.append(reads)
        return plan

    def _read(self, kind: str, day: int, source: str | None) -> None:
        tr, m = self.tracer, self.m
        lo = EPOCH0_UNIX + day * DAY
        hi = lo + (HORIZON_S if kind == "long" else DAY) - 1
        t0 = time.perf_counter()
        if kind == "point":
            with tr.span("operators.compress.decompress"):
                chunks = self.spark.read.parquet(self.chunk_path).filter(
                    (F.col("tier") == "1m")
                    & (F.col("source") == source)
                    & F.col("span_s").between(lo, hi)
                )
                n = len(decompress_chunks(chunks.drop("tier")).toPandas())
        else:
            with tr.span("sources.tables.read_tier"):
                df = read_tier(self.spark, self.paths["1m"], lo, hi)
                if source is not None:
                    df = df.filter(F.col("source") == source)
                n = len(df.toPandas())
        wall = time.perf_counter() - t0
        if kind == "point":
            m["decoded_points"] = m.get("decoded_points", 0) + n
        else:
            m.setdefault("read_files", []).append(
                sum(
                    len(_parquet_files(os.path.join(self.paths["1m"], f"day={d}")))
                    for d in _day_names(lo, hi)
                )
            )
        m.setdefault("read_walls", []).append(wall)
        m.setdefault("read_points", 0)
        m["read_points"] += n
        if kind == "short":
            m.setdefault("short_read_walls", []).append(wall)
        self.attempted += 1

    def refresh_and_read(self) -> None:
        """Late batches through ``refresh_tier_table`` on the 1m tier, each
        added to the raw table before its refresh, with reads in between."""
        tr, m = self.tracer, self.m
        tokens_ts = with_event_time(self.tokens, HORIZON_S)
        key = F.col("key") % F.lit(self.batches)
        plan = self._read_plan()
        for i in range(self.batches):
            late_i = with_event_time(self.late.filter(key == i).drop("key"), HORIZON_S)
            raw_all = tokens_ts.unionByName(
                with_event_time(self.late.filter(key <= i).drop("key"), HORIZON_S)
            )
            t0 = time.perf_counter()
            with tr.span("operators.refresh.refresh_tier_table"):
                res = refresh_tier_table(
                    self.spark, self.paths["1m"], raw_all, late_i, TIERS["1m"],
                    lambda df: rollup_tokens(df, "1m"),
                )
            m.setdefault("refresh_walls", []).append(time.perf_counter() - t0)
            m.setdefault("dirty_windows", []).append(res["n_dirty_windows"])
            m.setdefault("dirty_days", []).append(len(res["dirty_days"]))
            m.setdefault("rows_written", []).append(res["rows_written"])
            self.attempted += 1
            for read in plan[i]:
                self._read(*read)

    def maintain(self) -> None:
        """Compaction, retention and downsampling of the 1m tier table.
        Compaction rewrites the days the two appends left in two files and
        no refresh rewrote, so its work follows the store's layout."""
        tr, m = self.tracer, self.m
        path = self.paths["1m"]
        t0 = time.perf_counter()
        with tr.span("sources.tables.compact"):
            c = compact_tier(self.spark, path)
        with tr.span("sources.tables.retention"):
            r = apply_retention(self.spark, path, EPOCH0_UNIX + RETAIN_FROM_DAY * DAY)
        with tr.span("sources.tables.downsample"):
            d = downsample_tier(
                self.spark, path, EPOCH0_UNIX + DOWNSAMPLE_BEFORE_DAY * DAY, DOWNSAMPLE_POINTS
            )
        m["maintain_s"] = time.perf_counter() - t0
        self.attempted += 3
        m.update(
            compact_files_before=c["files_before"],
            compact_files_after=c["files_after"],
            downsample_rows_in=d["rows_in"],
            downsample_rows_out=d["rows_out"],
            retention_bytes_dropped=r["bytes_dropped"],
        )
        self.check(
            "maintain.downsampled_days",
            len(d["downsampled_days"]) == DOWNSAMPLE_BEFORE_DAY - RETAIN_FROM_DAY,
        )
        self.check("maintain.retained_days", r["dropped_days"] == RETAIN_FROM_DAY)
        self.check(
            "maintain.compacted_days",
            len(c["compacted_days"]) == HORIZON_DAYS - self.workload.late_days,
        )

    # -- checks (outside the timed operations) ----------------------------

    def check_pipeline(self, tiers: dict) -> None:
        """Token sums and grid lengths against the figures the fixture
        computed from the raw rows, and a seeded chunk round trip."""
        with open(os.path.join(self.fixture, "expect.json")) as f:
            expect = json.load(f)
        bounds = expect["bounds"]
        per_tier = {
            r["tier"]: r
            for r in _union(
                d["fused"]
                .agg(
                    F.sum("n_points").alias("points"),
                    F.sum(F.length("ts_blob") + F.length("val_blob")).alias("bytes"),
                )
                .crossJoin(d["rollup"].agg(F.sum("token_count").alias("tok")))
                .withColumn("tier", F.lit(t))
                for t, d in tiers.items()
            ).collect()
        }
        for tier, tier_s in TIERS.items():
            self.check(f"{tier}.token_sum", per_tier[tier]["tok"] == expect["tokens"])
            grid = sum(hi // tier_s - lo // tier_s + 1 for lo, hi in bounds.values())
            self.check(f"{tier}.n_points", per_tier[tier]["points"] == grid)
        rng = random.Random(self.seed)
        sources = sorted(bounds)
        picked = {t: rng.sample(sources, 2) for t in TIERS}
        decoded = _union(
            decompress_chunks(d["chunks"].filter(F.col("source").isin(picked[t])))
            .withColumn("tier", F.lit(t))
            for t, d in tiers.items()
        )
        expect = _union(
            d["filled"].filter(F.col("source").isin(picked[t]))
            .select("source", "epoch_s", F.col("rate").alias("val"), F.lit(t).alias("tier"))
            for t, d in tiers.items()
        )
        self.check("chunk_roundtrip", _same_rows(decoded, expect))
        self.m["chunk_bytes"] = sum(int(r["bytes"]) for r in per_tier.values())
        self.m["chunk_points"] = sum(int(r["points"]) for r in per_tier.values())

    def check_rebuild(self) -> None:
        """After the last refresh the 1m tier table equals a full rebuild
        from base plus every late row."""
        raw = with_event_time(self.tokens.unionByName(self.late.drop("key")), HORIZON_S)
        rebuilt = rollup_tokens(raw, "1m")
        stored = read_tier(self.spark, self.paths["1m"])
        self.check("1m.refresh_equals_rebuild", _same_rows(rebuilt, stored))

    # -- warm-up ----------------------------------------------------------

    def warm_up(self) -> tuple[dict, int]:
        """One untimed pipeline iteration, so the timed one runs on warm JVM
        and Python code. Its closure leg runs on the 1d tier only: the same
        kernel and plan shape as the 1m and 1h legs at a fraction of their
        cost. Its layer spans are not recorded. Returns its (persisted)
        tiers and rolled-up points, which the store cycle writes."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        tiers = run_tiers(
            self.tokens, with_eigen=True, with_chunks=True, persist=True,
            with_closure=True, horizon_s=HORIZON_S,
        )
        _noop(_union(d["filled"] for d in tiers.values()))
        fused = _union(d["fused"] for d in tiers.values())
        _noop(fused)
        points = int(fused.agg(F.sum("n_points")).first()[0])
        _noop(tiers["1d"]["closure"])
        self.tracer.enabled = enabled
        return tiers, points


def _day_names(lo: int, hi: int) -> list[str]:
    from datetime import date, timedelta

    first = date(1970, 1, 1) + timedelta(days=lo // DAY)
    return [(first + timedelta(days=k)).isoformat() for k in range(hi // DAY - lo // DAY + 1)]


def end_to_end(run: Run, points: int) -> dict[str, float]:
    """The end-to-end figures a run reports, from its measurements."""
    m = run.m
    return {
        "rolled_up_pps": points / m["iteration_s"],
        "rolled_up_pps_closure": points / m["iteration_closure_s"],
        "write_pps": m["write_points"] / m["write_s"],
        "read_pps": m["read_points"] / sum(m["read_walls"]),
        "read_p50_s": median(m["short_read_walls"]),
        # the refreshes timed as one region (their summed wall), per refresh
        "refresh_s": sum(m["refresh_walls"]) / len(m["refresh_walls"]),
        "maintain_s": m["maintain_s"],
        "chunk_bytes_per_point": m["chunk_bytes"] / m["chunk_points"],
        "stored_bytes_per_point": m["write_bytes"] / m["stored_rows"],
    }


def layer_counters(run: Run) -> dict[str, tuple]:
    """The per-layer counts a traced run reports, with their units."""
    m = run.m
    return {
        "sources.scan_rows": (m["scan_rows"], "count"),
        "operators.rollup.observed_points": (m["observed_points"], "count"),
        "operators.tier_kernel.spans": (m["kernel_spans"], "count"),
        "operators.tier_kernel.filled_share": (m["filled_share"], "share"),
        "operators.tier_kernel.shuffled_rows": (m["shuffled_rows"], "count"),
        "operators.closure_correct.spans": (m["closure_spans"], "count"),
        "operators.compress.chunk_bytes": (m["chunk_bytes"], "B"),
        "operators.compress.decoded_points": (m["decoded_points"], "count"),
        "sources.tables.write_bytes": (m["write_bytes"], "B"),
        "sources.tables.write_files": (m["write_files"], "count"),
        "sources.tables.read_files_per_read": (median(m["read_files"]), "count"),
        "operators.refresh.dirty_windows": (median(m["dirty_windows"]), "count"),
        "operators.refresh.dirty_days": (median(m["dirty_days"]), "count"),
        "operators.refresh.rows_written": (median(m["rows_written"]), "count"),
        "operators.refresh.rewrite_amp": (sum(m["rows_written"]) / sum(m["dirty_windows"]), "ratio"),
        "sources.tables.compact_files_before": (m["compact_files_before"], "count"),
        "sources.tables.compact_files_after": (m["compact_files_after"], "count"),
        "sources.tables.downsample_rows_in": (m["downsample_rows_in"], "count"),
        "sources.tables.downsample_rows_out": (m["downsample_rows_out"], "count"),
        "sources.tables.retention_bytes_dropped": (m["retention_bytes_dropped"], "B"),
    }
