"""The benchmark's workloads: a fixed, seed-determined op sequence each.

A workload has four phases. ``prepare`` makes inputs and is never timed.
``setup`` is timed as set-up: the program-side first use a user pays
once. ``run_op`` is one timed op and returns the units it completed.
``check`` verifies the outputs after the timed window. ``layers`` turns
the traced run's spans and Spark job record into per-layer numbers.

The op count is fixed by ``--seconds`` and a per-workload nominal op
time, never by the clock, so every run does the same work and ends with
the same table state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from statistics import median

import numpy as np
import pandas as pd
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark import registry
from gjenbruksstasjoner_kotid_estimering_spark.functions import estimator
from gjenbruksstasjoner_kotid_estimering_spark.ml import models
from gjenbruksstasjoner_kotid_estimering_spark.operators import merge_tx
from gjenbruksstasjoner_kotid_estimering_spark.sources import images, jpeg

import inputs

SETUP_REPEATS = 3
KEY = ["station_id", "epoch"]
PRED_COLS = ["queue_end_pos", "queue_lanes", "queue_full"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _file_bytes(uris: list[str]) -> int:
    return sum(os.path.getsize(u.removeprefix("file:")) for u in uris)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def _materialize(df, traced: bool):
    """In the traced run each layer's output is computed inside that
    layer's span; the untraced run leaves the plan lazy."""
    return df.localCheckpoint(eager=True) if traced else df


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


class Workload:
    name = ""
    unit = ""
    nominal_op_s = 1.0

    def __init__(self, ctx, seconds: int):
        self.ctx = ctx
        self.n_ops = max(1, round(seconds / self.nominal_op_s))

    def context(self) -> dict:
        return {}


# ---------------------------------------------------------------- camera

class CameraIngest(Workload):
    """One tick of S stations: frames land in a directory; the op scans,
    decodes, featurizes, scores, estimates, MERGEs into the queue-time
    table and reads back the latest queue time per station, which is the
    front-end read. Every ``compact_every``-th tick then compacts the
    table, which bounds its file count.

    S is 3 stations, decoded in ``min(S, cores - 1)`` partitions: a core
    is left to the JVM's JIT compiler and task threads (about one
    core-second per tick), so they do not preempt the decode each tick
    waits on."""

    name, unit = "camera_ingest", "frames"
    nominal_op_s = 2.2
    warmup_ticks = 2
    compact_every = 4
    history_ticks = 24
    psnr_floor_db = 30.0
    sample_frames = 2

    def __init__(self, ctx, seconds):
        super().__init__(ctx, seconds)
        self.ops = list(range(self.n_ops))
        self.n_ticks = self.n_ops
        self.stations = inputs.station_ids()
        self.decode_partitions = max(1, min(len(self.stations), ctx.cores - 1))
        self.decode_acc = self.featurize_acc = None
        self.files_before = None
        self.psnr_db = None

    def prepare(self) -> None:
        self.inp = inputs.camera_inputs(
            self.ctx.inputs_dir, self.ctx.seed, self.n_ticks
        )
        self.decoder = images.jpeg_decoder()
        # The measured program is the vendored decoder: jpeg_decoder()
        # switches to cv2 whenever it is importable.
        if self.decoder.__qualname__ != "jpeg_decoder.<locals>.decode":
            raise RuntimeError(
                f"jpeg_decoder() returned {self.decoder.__qualname__}, "
                "not the vendored sources.jpeg decoder"
            )
        self.featurizer = images.default_featurizer

    def context(self) -> dict:
        return {
            "decoder": f"{jpeg.__name__}.decode",
            "stations": len(self.stations),
            "decode_partitions": self.decode_partitions,
            "ticks": self.n_ticks,
            "frame_kb_min": round(self.inp["frame_kb_min"], 1),
            "frame_kb_max": round(self.inp["frame_kb_max"], 1),
            "decode_psnr_db": self.psnr_db,
        }

    # -- set-up -------------------------------------------------------
    def _history(self) -> pd.DataFrame:
        rng = np.random.default_rng([self.ctx.seed, 5])
        rows = []
        for h in range(1, self.history_ticks + 1):
            for sid in self.stations:
                rows.append((sid, inputs.frame_epoch(-h), 0))
        pdf = pd.DataFrame(rows, columns=["station_id", "epoch", "seq"])
        pdf["queue_end_pos"] = rng.uniform(0.0, 1300.0, len(pdf))
        pdf["queue_lanes"] = rng.uniform(-0.4, 1.4, len(pdf))
        pdf["queue_full"] = rng.uniform(0.0, 1.0, len(pdf))
        return pdf

    def _seed_table(self, table: str) -> None:
        spark = self.ctx.spark
        shutil.rmtree(table, ignore_errors=True)
        hist = estimator.with_queue_estimate(
            spark.createDataFrame(self._history()), spark
        )
        merge_tx.merge(spark, table, hist, KEY, "seq")

    def setup(self) -> dict:
        spark = self.ctx.spark
        fits = []
        for _ in range(SETUP_REPEATS):
            dt, self.heads = _timed(
                models.train_queue_models, spark, self.inp["dir"]
            )
            fits.append(dt)
        seeds = []
        for r in range(SETUP_REPEATS):
            self.table = os.path.join(self.ctx.run_dir, f"queue_time_{r}")
            seeds.append(_timed(self._seed_table, self.table)[0])
        # warm-up: the first ticks against a throwaway table, until the
        # per-op plan classes and Python workers exist
        real_table, self.table = self.table, os.path.join(self.ctx.run_dir, "warm")
        self._seed_table(self.table)
        t0 = time.perf_counter()
        for t in range(self.warmup_ticks):
            self._tick(t, seq=1000 + t)
        merge_tx.compact(spark, self.table)
        warm = time.perf_counter() - t0
        self.table = real_table
        self.fit_s = median(fits)
        if self.ctx.traced:  # write amplification counts from the seed
            self.files_before = merge_tx.snapshot(spark, self.table)[0].inputFiles()
        self.decode_acc = self.featurize_acc = None  # count timed ops only
        return {"models.fit_s": self.fit_s, "table_seed_s": median(seeds),
                "warmup_s": warm}

    # -- ops ----------------------------------------------------------
    def _decoder(self):
        if not self.ctx.traced:
            return self.decoder, self.featurizer
        sc = self.ctx.spark.sparkContext
        if self.decode_acc is None:
            self.decode_acc = sc.accumulator(0.0)
            self.featurize_acc = sc.accumulator(0.0)
        dec, feat = self.decoder, self.featurizer
        dacc, facc = self.decode_acc, self.featurize_acc

        def timed_decode(content: bytes):
            t0 = time.perf_counter()
            out = dec(content)
            dacc.add(time.perf_counter() - t0)
            return out

        def timed_featurize(image):
            t0 = time.perf_counter()
            out = feat(image)
            facc.add(time.perf_counter() - t0)
            return out

        return timed_decode, timed_featurize

    def _tick(self, t: int, seq: int) -> int:
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        decode, featurize = self._decoder()
        with tr.span("images.preprocess"):
            feats = images.preprocess_images(
                images.read_images(spark, self.inp["ticks"][t]),
                decoder=decode,
                featurizer=featurize,
                n_partitions=self.decode_partitions,
            )
            feats = _materialize(feats, ctx.traced)
        with tr.span("models.score"):
            vec = feats.select(
                *KEY,
                array_to_vector(
                    F.transform(
                        F.slice("features", 1, models.EMB_DIM),
                        lambda x: x.cast("double"),
                    )
                ).alias("features"),
            )
            preds = models.score(self.heads, vec).select(
                *KEY,
                F.lit(seq).cast("long").alias("seq"),
                *[F.col(f"pred_{c}").alias(c) for c in PRED_COLS],
            )
            preds = _materialize(preds, ctx.traced)
        with tr.span("estimator.estimate"):
            est = _materialize(
                estimator.with_queue_estimate(preds, spark), ctx.traced
            )
        with tr.span("merge_tx.merge") as sp:
            base = merge_tx.current_version(self.table)
            version = merge_tx.merge(spark, self.table, est, KEY, "seq")
            if sp is not None:
                sp["retries"] = version - base - 1
        self._front_end_read()
        return len(self.stations)

    def _front_end_read(self) -> None:
        with self.ctx.tracer.span("merge_tx.snapshot") as sp:
            snap, _ = merge_tx.snapshot(self.ctx.spark, self.table)
            latest = (
                snap.groupBy("station_id")
                .agg(F.max_by("expected_queue_time", "epoch").alias("eqt"))
                .collect()
            )
            if sp is not None:
                files = snap.inputFiles()
                sp["table_files"] = len(files)
                sp["live_bytes"] = _file_bytes(files)
                sp["new_bytes"] = _file_bytes(
                    sorted(set(files) - set(self.files_before or []))
                )
                self.files_before = files
        if len(latest) != len(self.stations):
            raise RuntimeError(f"front-end read saw {len(latest)} stations")

    def run_op(self, t: int) -> int:
        # seq > 0 keeps every tick newer than the seeded history
        frames = self._tick(t, seq=t + 1)
        if t % self.compact_every == self.compact_every - 1:
            with self.ctx.tracer.span("merge_tx.compact"):
                merge_tx.compact(self.ctx.spark, self.table)
        return frames

    # -- checks -------------------------------------------------------
    def check(self) -> list[str]:
        problems = []
        snap, _ = merge_tx.snapshot(self.ctx.spark, self.table)
        got = snap.select(*KEY).toPandas()
        want = {
            (sid, inputs.frame_epoch(t))
            for sid in self.stations
            for t in range(-self.history_ticks, self.n_ticks)
        }
        keys = list(zip(got["station_id"].tolist(), got["epoch"].tolist()))
        if len(keys) != len(set(keys)):
            problems.append(f"table has {len(keys) - len(set(keys))} duplicate keys")
        if set(keys) != want:
            problems.append(
                f"table keys differ: {len(set(keys) - want)} unexpected, "
                f"{len(want - set(keys))} missing"
            )
        problems += self._check_decode()
        return problems

    def _check_decode(self) -> list[str]:
        """Decode a seeded sample of frames: the pixels must be
        bit-identical to the checksum pinned when this seed's inputs were
        made, and close to the encoder's input."""
        problems = []
        digest = hashlib.sha256()
        worst_psnr = float("inf")
        rng = np.random.default_rng([self.ctx.seed, 7])
        for slot in rng.choice(len(self.stations), self.sample_frames):
            t = int(rng.integers(0, self.n_ticks))
            name = inputs.frame_name(self.stations[slot], t)
            with open(os.path.join(self.inp["ticks"][t], name), "rb") as fh:
                pixels = self.decoder(fh.read())
            digest.update(pixels.tobytes())
            ref = inputs.scene(self.ctx.seed, int(slot)).astype(np.float64)
            mse = float(np.mean((pixels.astype(np.float64) - ref) ** 2))
            worst_psnr = min(worst_psnr, 10 * np.log10(255.0**2 / max(mse, 1e-12)))
        pin_path = os.path.join(self.inp["dir"], "decode_checksum")
        if not os.path.exists(pin_path):
            with open(pin_path, "w") as fh:
                fh.write(digest.hexdigest())
        with open(pin_path) as fh:
            if fh.read() != digest.hexdigest():
                problems.append("decoded pixels differ from this seed's pinned checksum")
        if worst_psnr < self.psnr_floor_db:
            problems.append(
                f"decode PSNR {worst_psnr:.1f} dB below {self.psnr_floor_db} dB"
            )
        self.psnr_db = round(worst_psnr, 2)
        return problems

    # -- per-layer ----------------------------------------------------
    def layers(self, spans, by_op, by_layer) -> dict:
        frames = self.n_ticks * len(self.stations)
        named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
        dur = lambda n: [s["end"] - s["start"] for s in named(n)]  # noqa: E731
        decode_s = self.decode_acc.value if self.decode_acc else 0.0
        featurize_s = self.featurize_acc.value if self.featurize_acc else 0.0
        pre = [v for k, v in by_layer.items() if k.endswith("|images.preprocess")]
        pre_run = sum(v["run_s"] for v in pre)
        run_all = sum(v["run_s"] for v in by_op.values())
        scan_bytes = [v["input_bytes"] for v in pre]
        snaps = named("merge_tx.snapshot")
        live = snaps[-1]["live_bytes"] if snaps else 0
        rows = len(self.stations)
        bytes_per_row = live / (rows * (self.history_ticks + self.n_ticks))
        written = sum(s["new_bytes"] for s in snaps)
        updates = rows * len(snaps) * bytes_per_row
        return {
            "jpeg.decode_s_per_frame": decode_s / frames,
            "jpeg.decode_mb_per_s": (
                self.inp["bytes_per_tick"] * self.n_ticks / 1e6 / decode_s
                if decode_s else 0.0
            ),
            "jpeg.decode_share": decode_s / run_all if run_all else 0.0,
            "images.featurize_s_per_frame": featurize_s / frames,
            "images.python_edge_s_per_frame": (pre_run - decode_s - featurize_s) / frames,
            "images.scan_mb": _med(scan_bytes) / 1e6,
            "models.fit_s": self.fit_s,
            "models.score_s": _med(dur("models.score")),
            "estimator.estimate_s": _med(dur("estimator.estimate")),
            "merge_tx.merge_s": _med(dur("merge_tx.merge")),
            "merge_tx.snapshot_read_s": _med(dur("merge_tx.snapshot")),
            "merge_tx.compact_s": _med(dur("merge_tx.compact")),
            "merge_tx.table_files": _med([s["table_files"] for s in snaps]),
            "merge_tx.write_amp": written / updates if updates else 0.0,
            "merge_tx.space_amp": _dir_bytes(self.table) / live if live else 0.0,
            "merge_tx.retries": sum(s.get("retries", 0) for s in named("merge_tx.merge")),
        }


# ------------------------------------------------------------- analytics

# One oracle-backed query per registry tag stratum (filter, agg, join,
# window, text, dedup, similarity, graph, tpch), drawn once with
# numpy.random.default_rng(20261017) from the queries of each stratum
# that carry none of the image, multimodal, sink, merge, streaming,
# transaction, upsert or scd2 tags and took at most 1.2 s (graph: 1.5 s)
# in the sf0.1 sweep record. The mix thus bypasses sources.jpeg and
# merge_tx. Every run times these queries; --seed varies their data.
SAMPLE = (
    "tpch_q19",
    "tpch_q14",
    "join_semi",
    "topk_per_group",
    "text_url_canonical_dedup",
    "text_segment_dedup",
    "embedding_centroids",
    "er_resolve_parts",
    "tpch_q22",
)
ANALYTICS_SF = 0.03


class AnalyticsMix(Workload):
    """One registry query per op, ``builder(spark, sf) + noop write`` as
    bench.py times a row, cycling through a fixed tag-stratified sample."""

    name, unit = "analytics_mix", "queries"
    nominal_op_s = 0.8

    def __init__(self, ctx, seconds):
        super().__init__(ctx, seconds)
        self.specs = registry.all_specs()
        self.sample = list(SAMPLE)
        cycles = max(1, round(self.n_ops / len(self.sample)))
        self.ops = self.sample * cycles
        self.n_ops = len(self.ops)

    def prepare(self) -> None:
        self.sf_dir = inputs.analytics_inputs(
            self.ctx.inputs_dir, self.ctx.seed, ANALYTICS_SF
        )

    def context(self) -> dict:
        return {"queries": self.sample, "sf": ANALYTICS_SF}

    def setup(self) -> dict:
        # warm-up: one untimed pass over the sample pays each query's
        # first-execution plan and codegen cost
        t0 = time.perf_counter()
        for name in self.sample:
            self.run_op(name)
        return {"warmup_s": time.perf_counter() - t0}

    def run_op(self, name: str) -> int:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("plans.build"):
            df = self.specs[name].builder(spark, self.sf_dir)
        with tr.span("plans.execute"):
            df.write.format("noop").mode("overwrite").save()
        return 1

    def check(self) -> list[str]:
        from scripts import compare

        con = compare.duck_con(self.sf_dir)
        problems = []
        for name in self.sample:
            spec = self.specs[name]
            got = spec.builder(self.ctx.spark, self.sf_dir).toPandas()
            if spec.oracle is None:
                if got.empty:
                    problems.append(f"{name}: zero rows")
                continue
            want = con.execute(spec.oracle).fetchdf()
            problems += [f"{name}: {p}" for p in compare.compare(name, got, want)]
        con.close()
        return problems

    def layers(self, spans, by_op, by_layer) -> dict:
        dur = lambda n: [s["end"] - s["start"] for s in spans if s["name"] == n]  # noqa: E731
        return {
            "plans.build_s": _med(dur("plans.build")),
            "plans.execute_s": _med(dur("plans.execute")),
        }


WORKLOADS = {w.name: w for w in (CameraIngest, AnalyticsMix)}
