"""The workloads: bulk ingest and dashboard reads.

Each workload is a closed loop run by one client: an operation starts only
after the previous one has returned. ``setup`` generates the inputs from
the seed, pre-builds what the workload needs and runs untimed warm-up
operations; ``measure`` runs operations until the deadline; ``check``
verifies outputs against numpy references (a failed check marks the
operation failed); ``run_probes`` (traced run only) times each layer on
its own over a small fixed sample of the workload's series.
"""

from __future__ import annotations

import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gensor_spark.api import Dataset
from gensor_spark.codecs.gorilla import decode_docs, encode_docs
from gensor_spark.operators.points import docs_to_points
from gensor_spark.operators.rollup import (
    cascade_tier,
    rollup_docs_arrow,
    rollup_tier,
)
from gensor_spark.plans.incremental import TIERS, TierPipeline, read_range

from perfbench import inputs as I
from perfbench import reference as R

#: batches per TierPipeline: two keeps both of the default two concurrent
#: batch slots busy on a 4-core client while the fixed per-job cost of a
#: run stays small next to the rollup work
N_BATCHES = 2
PROBE_SERIES = 12
WARM_RUNS = 2  # bulk warm-up runs on the probe sample before a full one
READ_K = 4  # series per dashboard read
BUILD_WAVES = 2  # deliveries (time slices) the dashboard store is built from
#: untimed dashboard refreshes, run by WARM_CLIENTS threads, on the
#: delivered layout and then on the compacted one the timed loop reads:
#: one client's reads keep getting faster for ~100 reads (JIT of the
#: planner), more than it can run in a short set-up, and the compacted
#: layout's plans need their own warm-up
WARM_DELIVERED = 4
WARM_COMPACTED = 24
WARM_CLIENTS = 4
CMP_READS = 3  # 1m reads on each layout for the compaction comparison
#: retention policy applied by the traced run's probe, at EPOCH0 + 1 day
RETENTION = {"1m": "12 hours", "1h": "18 hours"}
RETENTION_NOW = (pd.Timestamp(I.EPOCH0_US, unit="us")
                 + pd.Timedelta("1 day"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Value at the highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count), or None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n, n


def stored_cnt(store: Path, tier: str) -> int:
    """Σ cnt over every stored partial row of a tier (pyarrow, no Spark):
    each raw point is counted once in each tier, whatever the layout."""
    return int(sum(pq.read_table(f, columns=["cnt"])["cnt"].to_numpy().sum()
                   for f in (store / f"tier_{tier}").glob("batch=*/part-*")))


def store_layout(store: Path, points: int) -> dict:
    """Per-tier contributions, data files, bytes and stored rows per point
    (parquet footers via pyarrow; no Spark job)."""
    out: dict = {}
    total = 0
    for t in TIERS:
        parts = sorted((store / f"tier_{t}").glob("batch=*"))
        files = [f for p in parts for f in p.glob("part-*")]
        nbytes = sum(f.stat().st_size for f in files)
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        out[f"incremental.contributions.{t}"] = len(parts)
        out[f"incremental.files.{t}"] = len(files)
        out[f"incremental.bytes_per_tier.{t}"] = nbytes
        out[f"rollup.bins_per_point.{t}"] = rows / points
        total += nbytes
    blobs = sum(f.stat().st_size for f in (store / "blobs").glob("*/part-*"))
    out["store_bytes"] = total + blobs
    return out


class Workload:
    name = ""
    op_kind = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.work: Path = ctx.work
        self.op_s: list[float] = []       # timed operations
        self.op_points: list[int] = []
        self.traced: list[bool] = []
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.problems: list[str] = []
        self.routes = dict.fromkeys(TIERS, 0)
        self.layer: dict = {}
        self.phase_s = 0.0

    # ------------------------------------------------------------- helpers

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def begin(self) -> int:
        """Count one attempted operation; returns its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, what: str, op: int) -> None:
        """Record a problem; operation ``op`` has failed."""
        self.failed_ops.add(op)
        self.problems.append(what)

    def timed(self, fn, label: str):
        """Run one operation, timing it; an exception fails it. Returns
        (result or None, wall seconds, operation id)."""
        op = self.begin()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.fail(f"{label}: {traceback.format_exc(limit=3)}", op)
            out = None
        return out, time.perf_counter() - t0, op

    def loop(self, deadline: float, min_ops: int = 1) -> None:
        """Closed loop until the deadline. In the traced run every other
        operation runs with tracing off, which measures tracing overhead."""
        t0 = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() < deadline:
            traced = self.tr.enabled and i % 2 == 0
            was = self.tr.enabled
            self.tr.enabled = traced
            try:
                ok, wall, pts = self.one_op(i)
            finally:
                self.tr.enabled = was
            if ok:
                self.op_s.append(wall)
                self.op_points.append(pts)
                self.traced.append(traced)
            self.ctx.engine.sample()
            i += 1
        self.phase_s = time.perf_counter() - t0

    @staticmethod
    def read_actual(rows, docs: I.Docs) -> pd.DataFrame:
        index = {d: j for j, d in enumerate(docs.doc_id)}
        return pd.DataFrame({
            "sid": [index[r["doc_id"]] for r in rows],
            "bin_us": [R.to_us(r["bin_ts"]) for r in rows],
            "count": [r["count"] for r in rows],
            "min": [r["min"] for r in rows], "max": [r["max"] for r in rows],
            "mean": [r["mean"] for r in rows],
            "last": [r["last"] for r in rows],
        }, columns=["sid", "bin_us", "count", "min", "max", "mean", "last"])

    # -------------------------------------------------------------- probes

    def probe(self, metric: str, fn, warm: bool = True) -> None:
        """Time ``fn`` as one traced operation into ``self.layer[metric]``.
        An untraced first pass warms codegen and Python workers unless
        ``warm`` is off (for calls that change the store)."""
        tr = self.tr
        if warm:
            was, tr.enabled = tr.enabled, False
            try:
                fn()
            finally:
                tr.enabled = was
        with tr.op(f"bench.probe.{metric}", "probe"):
            t0 = time.perf_counter()
            fn()
            self.layer[metric] = time.perf_counter() - t0

    def read_tier_probe(self, p: TierPipeline, metric: str) -> None:
        def read_tier():
            with self.tr.span("incremental.read_tier"):
                df = p.read_tier("1m")
            with self.tr.span("bench.noop_write"):
                noop(df)
        self.probe(metric, read_tier)

    def run_probes(self) -> None:
        """Each layer on its own over PROBE_SERIES series, written to a
        noop sink so only that layer's plan runs; then the store's read,
        compaction and retention paths on the workload's store."""
        sp, tr, lay = self.spark, self.tr, self.layer
        docs = sp.read.parquet(self.probe_path)

        def kernel():
            with tr.span("rollup.rollup_docs_arrow"):
                df = rollup_docs_arrow(docs, "1m", tick_seconds=I.TICK_S)
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("rollup.kernel_s", kernel)

        m1 = rollup_docs_arrow(docs, "1m", tick_seconds=I.TICK_S).persist()
        m1.count()

        def cascade():
            with tr.span("rollup.cascade_tier"):
                h1 = cascade_tier(m1, "1h")
            with tr.span("bench.noop_write"):
                noop(h1)
            with tr.span("rollup.cascade_tier"):
                d1 = cascade_tier(cascade_tier(m1, "1h"), "1d")
            with tr.span("bench.noop_write"):
                noop(d1)
        self.probe("rollup.cascade_s", cascade)
        m1.unpersist()

        def encode():
            with tr.span("codecs.encode_docs"):
                df = encode_docs(docs, tick_us=I.TICK_S * 1_000_000)
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("codec.encode_s", encode)

        enc = encode_docs(docs, tick_us=I.TICK_S * 1_000_000).persist()
        agg = enc.agg(F.sum(F.length("blob")).alias("b"),
                      F.sum("n_tok").alias("n")).first()
        lay["codec.bytes_per_point"] = agg["b"] / agg["n"]

        def decode():
            with tr.span("codecs.decode_docs"):
                df = decode_docs(enc)
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("codec.decode_s", decode)
        enc.unpersist()

        pts = docs_to_points(docs, tick_seconds=I.TICK_S)
        gappy = pts.withColumn("value", F.when(F.col("seq") % 97 != 5,
                                                F.col("value")))

        def point_path():
            with tr.span("rollup.rollup_tier"):
                df = rollup_tier(pts, "1m")
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("rollup.point_path_s", point_path)

        def interp():
            with tr.span("api.Dataset.interpolate", layer="gapfill"):
                df = Dataset(gappy).interpolate("linear").df
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("gapfill.interpolate_s", interp)

        def detect():
            with tr.span("api.Dataset.detect_outliers", layer="outliers"):
                df = Dataset(pts).detect_outliers("zscore", rolling=True).df
            with tr.span("bench.noop_write"):
                noop(df)
        self.probe("outliers.detect_s", detect)

        # read_tier on the layout the workload's operations wrote, then on
        # the compacted layout (a workload that compacts in its own set-up
        # has taken these figures there); compaction and retention change
        # the store, so they are timed on their first pass
        p = TierPipeline(sp, str(self.store), tick_seconds=I.TICK_S,
                         n_batches=N_BATCHES)
        if "incremental.read_tier_s" not in lay:
            self.read_tier_probe(p, "incremental.read_tier_s")
        if "incremental.compact_s" not in lay:
            self.probe("incremental.compact_s", lambda: self.compact_all(p),
                       warm=False)
        if "incremental.read_tier_compacted_s" not in lay:
            self.read_tier_probe(p, "incremental.read_tier_compacted_s")
        self.probe("incremental.retention_s", lambda: self.retain(p),
                   warm=False)
        self.check_retention(p)

    def compact_all(self, p: TierPipeline) -> None:
        for t in TIERS:
            with self.tr.span("incremental.compact"):
                p.compact(t)

    def retain(self, p: TierPipeline) -> None:
        with self.tr.span("incremental.apply_retention"):
            p.apply_retention(RETENTION, RETENTION_NOW)

    def check_retention(self, p: TierPipeline) -> None:
        """After retention no bin older than a tier's cutoff survives and
        the tier still counts every point at or after the cutoff (series
        tick i is at EPOCH0 + i*TICK_S; cutoffs fall on the tick grid)."""
        op = self.begin()
        lens = np.array([t.size for t in self.docs.tokens])
        bad = []
        for t in TIERS:
            cut_s = 0
            if t in RETENTION:
                cut = RETENTION_NOW - pd.Timedelta(RETENTION[t])
                cut_s = int((cut.value // 1000 - I.EPOCH0_US) // 1_000_000)
            want = int(np.maximum(lens - cut_s // I.TICK_S, 0).sum())
            row = p.read_tier(t).agg(F.min("bin_ts").alias("lo"),
                                     F.sum("count").alias("n")).first()
            if int(row["n"] or 0) != want:
                bad.append(f"{t}: {row['n']} points kept, expected {want}")
            if row["lo"] is not None and (
                    R.to_us(row["lo"]) < I.EPOCH0_US + cut_s * 1_000_000):
                bad.append(f"{t}: a bin older than the cutoff survived")
        if bad:
            self.fail("retention: " + "; ".join(bad), op)

    def write_inputs(self) -> str:
        """Write the docs and the probe sample; returns the docs path."""
        path = str(self.work / "docs.parquet")
        I.write_docs(self.docs, path)
        self.probe_path = str(self.work / "probe.parquet")
        I.write_docs(self.docs.subset(range(PROBE_SERIES)), self.probe_path)
        self.inputs_line = (f"rows={len(self.docs.tokens)} "
                            f"points={self.docs.points} "
                            f"sha256={self.docs.checksum()}")
        return path


# --------------------------------------------------------------------------

class BulkIngest(Workload):
    """One operation = TierPipeline(tick_seconds=10, encode_blobs=True).run
    into a fresh store: 1m/1h/1d tiers plus Gorilla blobs."""

    name = "bulk_ingest"
    op_kind = "ingest"
    N_SERIES, MIN_T, MAX_T = 60, 2000, 12000

    def setup(self) -> None:
        self.docs = I.gen_docs(self.ctx.seed, self.N_SERIES, self.MIN_T,
                               self.MAX_T, 0.02, 10, "bulk_")
        self.df = self.spark.read.parquet(self.write_inputs())
        self.probe_df = self.spark.read.parquet(self.probe_path)
        lens = np.array([t.size for t in self.docs.tokens])
        self.want_rows = {t: int(np.sum(-(-lens * I.TICK_S // R.TIER_S[t])))
                          for t in ("1m", "1h")}
        # 1d bins: a series of n ticks spans days 0 .. (n-1)*tick // 86400
        self.want_rows["1d"] = int(np.sum((lens - 1) * I.TICK_S
                                          // 86_400 + 1))
        self.stores: list[Path] = []
        # warm-up: the engine keeps speeding up over its first runs (JIT
        # of the per-job planning and commit paths), so warm it with runs
        # on the small probe sample, which cost the same jobs for a fraction
        # of the data, then one full run
        for w in range(WARM_RUNS):
            self.ingest(-2 - w, timed=False, docs=self.probe_df)
        self.ingest(-1, timed=False)

    def ingest(self, i: int, timed: bool = True, docs=None):
        store = self.work / f"store_{i}"

        def go():
            with self.tr.op("bench.op.ingest", "ingest"):
                p = TierPipeline(self.spark, str(store),
                                 tick_seconds=I.TICK_S, encode_blobs=True,
                                 n_batches=N_BATCHES)
                with self.tr.span("incremental.TierPipeline.run"):
                    p.run(self.df if docs is None else docs)
            return p

        if not timed:
            go()
            return None, 0.0, None
        return self.timed(go, f"ingest {i}")

    def one_op(self, i: int):
        p, wall, op = self.ingest(i)
        if p is None:
            return False, wall, 0
        self.stores.append(p.store)
        self.store_op = op
        # every run writes exactly the bins the inputs imply
        rows = dict.fromkeys(TIERS, 0)
        blobs = 0
        for row in p.lineage():
            for t in TIERS:
                rows[t] += row["rows"][t]
            blobs += row["rows"]["blobs"]
        if rows != self.want_rows or blobs != len(self.docs.tokens):
            self.fail(f"ingest {i}: wrote {rows} bins / {blobs} blobs, "
                      f"expected {self.want_rows} / {len(self.docs.tokens)}",
                      op)
            return False, wall, 0
        return True, wall, self.docs.points

    def measure(self, deadline: float) -> None:
        self.loop(deadline, min_ops=3)
        self.layout = store_layout(self.store, self.docs.points)
        self.store_points = self.docs.points

    def check(self) -> None:
        """Full check of the last run's store: Σcnt per tier, exact tiers
        of sampled series (one hot), and a bit-exact blob round trip."""
        if not self.stores:
            return
        sp = self.spark
        p = TierPipeline(sp, str(self.store), tick_seconds=I.TICK_S,
                         n_batches=N_BATCHES)
        lens = np.array([t.size for t in self.docs.tokens])
        sample = sorted({int(np.argmax(lens)), 0, len(lens) // 2})
        pts = R.docs_points(self.docs, sample)
        ids = [self.docs.doc_id[j] for j in sample]
        bad = []
        for t in TIERS:
            total = stored_cnt(self.store, t)
            if total != self.docs.points:
                bad.append(f"{t}: sum(cnt)={total} != {self.docs.points}")
            got = p.read_tier(t).filter(F.col("doc_id").isin(ids)).collect()
            why = R.compare(R.tiers(*pts, t), self.read_actual(got, self.docs))
            if why:
                bad.append(f"{t} sampled series: {why}")
        dec = decode_docs(sp.read.parquet(str(p.store / "blobs"))).select(
            "doc_id", "tokens").toPandas()
        index = {d: j for j, d in enumerate(self.docs.doc_id)}
        if len(dec) != len(self.docs.tokens) or not all(
                np.array_equal(np.asarray(tok), self.docs.tokens[index[d]])
                for d, tok in zip(dec["doc_id"], dec["tokens"])):
            bad.append("decode_docs(blobs) != source token arrays")
        if bad:
            self.fail("ingest (last run): " + "; ".join(bad), self.store_op)

    def report(self) -> dict:
        rates = [pts / s for pts, s in zip(self.op_points, self.op_s)]
        return {"ingest_points_per_s": (float(np.median(rates)), "points/s")}

    @property
    def store(self) -> Path:
        return self.stores[-1]




# --------------------------------------------------------------------------

def build_store(ctx, store: Path, docs_path: str, max_ticks: int,
                waves: int) -> TierPipeline:
    """The pre-built store of the read workload, delivered as ``waves``
    point-view contributions (``Dataset.to_store``), one per time slice of
    the data: the fragmented layout a store has before compaction. Built
    through the pure-SQL point path with one batch per delivery, so the
    workload starts no Python worker and keeps its set-up short."""
    p = TierPipeline(ctx.spark, str(store), tick_seconds=I.TICK_S,
                     n_batches=1)
    pts = docs_to_points(ctx.spark.read.parquet(docs_path),
                         tick_seconds=I.TICK_S)
    step = -(-max_ticks // waves)
    with ctx.tracer.op("bench.setup.build", "setup"):
        for w in range(waves):
            part = pts.filter((F.col("seq") >= w * step)
                              & (F.col("seq") < (w + 1) * step))
            with ctx.tracer.span("api.Dataset.to_store",
                                 layer="incremental"):
                Dataset(part).to_store(p, wave=w + 1)
    return p


class DashboardReads(Workload):
    """One operation = one dashboard refresh: READ_K series read at the
    1 h, 12 h and 5 d zooms (the router picks 1m, 1h, 1d), each a
    read_range + series filter + collect, on a store built from BUILD_WAVES
    deliveries and compacted at set-up."""

    name = "dashboard_reads"
    op_kind = "refresh"
    N_SERIES, MIN_T, MAX_T = 24, 8000, 9000

    def setup(self) -> None:
        self.docs = I.gen_docs(self.ctx.seed, self.N_SERIES, self.MIN_T,
                               self.MAX_T, 0.0, 1, "dash_")
        self.store = self.work / "store"
        self.p = build_store(self.ctx, self.store, self.write_inputs(),
                             self.MAX_T, BUILD_WAVES)
        self.rng = I.rng_for(self.ctx.seed, I.STREAM_READS)
        self.pool = np.arange(self.N_SERIES)
        self.reads: list[tuple] = []  # (op, picks, s, e, tier, rows, wall)
        self.read_s: list[float] = []  # timed reads
        self.read_tier: list[str] = []
        # compaction can make 1m reads slower: the same CMP_READS 1m reads
        # run warm on the delivered layout and on the compacted one
        cmp = []
        for _ in range(CMP_READS):
            picks, spans = I.gen_refresh(self.rng, self.docs, self.pool,
                                         READ_K)
            cmp.append((picks, spans[:1]))
        self.read_1m = {}
        self.warm_up(WARM_DELIVERED)
        self.read_1m["uncompacted"] = self.one_m_reads(cmp)
        if self.tr.enabled:
            self.read_tier_probe(self.p, "incremental.read_tier_s")
        t0 = time.perf_counter()
        with self.tr.op("bench.setup.compact", "setup"):
            self.compact_all(self.p)
        self.layer["incremental.compact_s"] = time.perf_counter() - t0
        if self.tr.enabled:
            self.read_tier_probe(self.p, "incremental.read_tier_compacted_s")
        self.warm_up(WARM_COMPACTED)
        self.read_1m["compacted"] = self.one_m_reads(cmp)

    def refresh(self, picks, spans, kind: str = "refresh") -> list[tuple]:
        """Read ``picks`` over each span; (picks, start, end, tier, rows,
        wall) per read."""
        ids = [self.docs.doc_id[j] for j in picks]
        out = []
        with self.tr.op(f"bench.op.{kind}", kind):
            for s_off, e_off in spans:
                t0 = time.perf_counter()
                s = pd.Timestamp(I.EPOCH0_US + s_off * 1_000_000, unit="us")
                e = pd.Timestamp(I.EPOCH0_US + e_off * 1_000_000, unit="us")
                with self.tr.span("incremental.read_range"):
                    df, tier = read_range(self.p, s, e,
                                          max_points=I.READ_MAX_POINTS)
                with self.tr.span("bench.collect"):
                    rows = df.filter(F.col("doc_id").isin(ids)).collect()
                out.append((picks, s_off, e_off, tier, rows,
                            time.perf_counter() - t0))
        return out

    def warm_up(self, n: int) -> None:
        """``n`` untimed, untraced refreshes from WARM_CLIENTS threads;
        their reads are checked like every other."""
        work = [I.gen_refresh(self.rng, self.docs, self.pool, READ_K)
                for _ in range(n)]

        def attempt(job):
            try:
                return self.refresh(*job, kind="warm"), None
            except Exception:
                return None, traceback.format_exc(limit=3)

        was, self.tr.enabled = self.tr.enabled, False
        try:
            with ThreadPoolExecutor(WARM_CLIENTS) as ex:
                results = list(ex.map(attempt, work))
        finally:
            self.tr.enabled = was
        for (picks, _), (reads, err) in zip(work, results):
            op = self.begin()
            if err is not None:
                self.fail(f"warm-up refresh {picks}: {err}", op)
            else:
                self.reads.extend((op, *r) for r in reads)

    def one_m_reads(self, cmp) -> list[float]:
        walls = []
        for picks, spans in cmp:
            res, wall, op = self.timed(
                lambda: self.refresh(picks, spans, kind="setup"),
                f"1m read {picks} {spans}")
            if res is not None:
                self.reads.extend((op, *r) for r in res)
                walls.append(wall)
        return walls

    def one_op(self, i: int):
        picks, spans = I.gen_refresh(self.rng, self.docs, self.pool, READ_K)
        res, wall, op = self.timed(lambda: self.refresh(picks, spans),
                               f"refresh {picks} {spans}")
        if res is None:
            return False, wall, 0
        for *_, tier, rows, rwall in res:
            if self.tr.enabled:
                self.routes[tier] += 1
            self.read_s.append(rwall)
            self.read_tier.append(tier)
        self.reads.extend((op, *r) for r in res)
        return True, wall, int(sum(r["count"] for x in res for r in x[4]))

    def measure(self, deadline: float) -> None:
        self.loop(deadline)
        self.layout = store_layout(self.store, self.docs.points)
        self.store_points = self.docs.points

    def check(self) -> None:
        """Every read is routed to its zoom's tier and equals the numpy
        reference; each tier holds every point once."""
        pts = R.docs_points(self.docs)
        want = {span: t for (_, span, _), t in zip(I.READ_SPANS, TIERS)}
        refs = {t: R.tiers(*pts, t) for t in TIERS}
        for op, picks, s, e, tier, rows, _ in self.reads:
            if tier != want[e - s]:
                self.fail(f"read {picks} {s}..{e}: routed to {tier}, "
                          f"expected {want[e - s]}", op)
                continue
            ref = refs[tier]
            keep = ref["sid"].isin(picks) & (
                ref["bin_us"] >= I.EPOCH0_US + s * 1_000_000) & (
                ref["bin_us"] < I.EPOCH0_US + e * 1_000_000)
            why = R.compare(ref[keep].reset_index(drop=True),
                            self.read_actual(rows, self.docs))
            if why:
                self.fail(f"read {picks} {s}..{e} [{tier}]: {why}", op)
        op = self.begin()  # the store itself
        for t in TIERS:
            total = stored_cnt(self.store, t)
            if total != self.docs.points:
                self.fail(f"{t}: sum(cnt)={total} != {self.docs.points}", op)

    def report(self) -> dict:
        walls = self.read_s
        out = {"read_s_p50": (float(np.median(walls)), "s"),
               "reads_per_s": (len(walls) / self.phase_s, "1/s")}
        tl = tail(walls)
        out["read_s_tail"] = (
            (tl[0], f"s (p{tl[1]:.1f} of {tl[2]} reads)") if tl
            else (None, f"s (n/a: {len(walls)} reads)"))
        for t in TIERS:
            ws = [w for w, x in zip(walls, self.read_tier) if x == t]
            out[f"read_s_p50.{t}"] = (float(np.median(ws)),
                                      f"s ({len(ws)} timed reads)")
        for layout, ws in self.read_1m.items():
            out[f"read_1m_{layout}_s_p50"] = (
                float(np.median(ws)), f"s ({len(ws)} warm set-up reads)")
        return out


WORKLOADS = {w.name: w for w in (BulkIngest, DashboardReads)}
