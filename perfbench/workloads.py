"""The benchmark workloads: each drives the package's public functions in
a closed loop (one client, the next call only after the previous one
returns) and checks the outputs after the timed part.

A workload's ``prepare`` generates its inputs (untimed); ``setup``
builds its stored state from scratch (timed, several times per run);
``warm_up`` runs untimed units so worker start and JIT compilation stay
out of the figures; ``loop`` runs timed units until the time is up;
``check`` verifies what the units produced; ``e2e`` and ``details`` turn
the samples into figures; ``extras`` runs the traced-only calls and
``layer`` adds the counters particular to the workload's layers once the
trace has been collected.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Any

import numpy as np

import inputs
from stats import median, tail_percentile
from spans import Tracer


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _plane_sums(rows) -> dict[tuple, int]:
    """``plane_stats`` rows → {(image_id, t, c, z): px_sum}."""
    return {(r["image_id"], r["t"], r["c"], r["z"]): r["px_sum"] for r in rows}


def _tail(name: str, values: list[float]) -> dict[str, Any]:
    """``<name>_tail_s`` with the percentile it is and the sample count."""
    tp = tail_percentile(values)
    out: dict[str, Any] = {f"{name}_samples": len(values)}
    if tp is not None:
        out[f"{name}_tail_s"] = tp[1]
        out[f"{name}_tail_pct"] = tp[0]
    return out


class Workload:
    """Shared plumbing; each workload fills in its phases."""

    name = ""
    #: set-ups per run (a new session, then the stored state from
    #: scratch); ``setup_s`` is their median
    setup_reps = 3

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        #: (kind, seconds, traced) per timed unit, in loop order
        self.samples: list[tuple[str, float, bool]] = []

    def span(self, name: str):
        return self.tracer.span(name, self.spark)

    def read(self, table: str, image_ids: list[str] | None = None):
        """``read_ome_table`` under its span; records the files that id
        pruning leaves for each looked-up id against the live files."""
        from ome_arrow_spark.sources.table_log import pruned_file_count, read_ome_table

        with self.span("table_log.read_ome_table") as s:
            df = read_ome_table(self.spark, table, image_ids=image_ids)
        if s is not None:
            if image_ids:
                per_id = [pruned_file_count(table, [("image_id", "=", i)]) for i in image_ids]
                s.result = (sum(n for n, _ in per_id), sum(total for _, total in per_id))
            else:
                total = pruned_file_count(table)[1]
                s.result = (total, total)
        return df

    def build_table(self, table: str, batches: list) -> None:
        """Create ``table`` from the first Arrow batch of OME records and
        append each further batch as one commit."""
        from ome_arrow_spark.sources import table_log as tl

        for k, batch in enumerate(batches):
            df = self.spark.createDataFrame(batch)
            call = "create_ome_table" if k == 0 else "append_ome_table"
            with self.span(f"table_log.{call}") as s:
                version = getattr(tl, call)(self.spark, df, table)
            if s is not None:
                s.result = version

    def prepare(self) -> None:
        """Generate inputs that live outside Spark (default: none)."""

    def extras(self) -> None:
        """Traced-only calls after the loop (default: none)."""

    def e2e(self) -> dict[str, float]:
        """The end-to-end metrics shared by every workload."""
        raise NotImplementedError

    def layer(self) -> dict[str, float]:
        """Per-layer counters not derived from Spark's job data."""
        ratios = [s.result for s in self.tracer.spans if s.name == "table_log.read_ome_table"]
        ratios = [r for r in ratios if isinstance(r, tuple) and r[1]]
        out = {}
        if ratios:
            out["table_log.read_ome_table.files_scanned_ratio"] = sum(r[0] for r in ratios) / sum(
                r[1] for r in ratios
            )
        return out


# ---------------------------------------------------------------------------
# acquire_merge
# ---------------------------------------------------------------------------


class AcquireMerge(Workload):
    """A microscope drop directory drained by a ``from_tiff_stream`` →
    ``run_foreach_batch`` pipeline into the MERGE sink
    (``upsert_ome_table``) of a preloaded images table.

    Each timed unit is one acquisition round: the client writes a round
    of multi-plane OME-TIFF files (untimed), then runs the stream until
    it has committed them.  The stream keeps one checkpoint across
    rounds, so a round is a restart that ingests only the new files.  The
    first file of every trigger-sized group re-acquires a stored image:
    same id, new pixels.
    """

    name = "acquire_merge"
    shape = (1, 2, 3, 128, 128)  # T, C, Z, Y, X
    files_per_trigger = 4
    batches_per_round = 3
    preload_commits = 2
    preload_per_commit = 24
    crop = (48, 32)  # x_max, y_max of the crop window checked at the origin
    lookup_ids = 4  # ids fetched by the point lookup of the check

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.table = os.path.join(work, "table")
        self.drop = os.path.join(work, "drop")
        self.ckpt = os.path.join(work, "ckpt")

    def _spec(self, image_id: str) -> inputs.ImageSpec:
        return inputs.ImageSpec(image_id, *self.shape)

    def _volume(self, image_id: str) -> np.ndarray:
        """The pixels an image id was last written with."""
        stream, index = self.source[image_id]
        return inputs.volume(self.seed, stream, index, self._spec(image_id))

    def prepare(self) -> None:
        """The preloaded images, as one Arrow batch per preload commit."""
        self.preloaded = {f"pre{i:05d}": (2, i) for i in range(self.preload_commits * self.preload_per_commit)}
        self.source = dict(self.preloaded)
        ids = list(self.preloaded)
        self.preload = [
            inputs.arrow_images(
                [inputs.ome_record(self._spec(i), self._volume(i)) for i in ids[lo : lo + self.preload_per_commit]]
            )
            for lo in range(0, len(ids), self.preload_per_commit)
        ]

    def setup(self, spark) -> None:
        """Fresh stream state, and the table preloaded in several commits."""
        self.spark = spark
        for d in (self.table, self.drop, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.drop)
        self.samples = []
        #: image id → (input stream, index) of the pixels last written
        self.source = dict(self.preloaded)
        self.raw_bytes = len(self.source) * self._spec("").raw_bytes
        self.reacquire = sorted(self.preloaded)
        inputs.rng(self.seed, 6).shuffle(self.reacquire)
        self.arrivals = 0
        self.images = 0
        #: (round, callback start, callback end, traced) per micro-batch
        self.callbacks: list[tuple[int, float, float, bool]] = []
        self.rounds = 0
        self.stream_s = 0.0
        self.build_table(self.table, self.preload)

    def _next_id(self) -> str:
        if self.arrivals % self.files_per_trigger == 0 and self.reacquire:
            return self.reacquire.pop()
        return f"img{self.arrivals:06d}"

    def _stage(self, n: int) -> None:
        for _ in range(n):
            image_id = self._next_id()
            self.source[image_id] = (1, self.arrivals)
            vol = self._volume(image_id)
            inputs.write_tiff(self.drop, vol, image_id)
            self.raw_bytes += vol.nbytes
            self.arrivals += 1

    def _sink(self, df, batch_id: int) -> None:
        from ome_arrow_spark.sources.table_log import upsert_ome_table

        start = time.perf_counter()
        with self.span("table_log.upsert_ome_table") as s:
            v = upsert_ome_table(self.spark, df, self.table)
        if s is not None:
            s.result = v
        self.callbacks.append((self.rounds, start, time.perf_counter(), self.tracer.enabled))

    def _round(self, n_batches: int) -> float:
        """Stage and ingest one round; record its commit intervals (from
        stream start to the first commit, then commit to commit) and
        return the stream wall."""
        from ome_arrow_spark.sources.tiff import from_tiff_stream
        from ome_arrow_spark.streaming.events import run_foreach_batch

        self._stage(n_batches * self.files_per_trigger)
        first = len(self.callbacks)
        t0 = time.perf_counter()
        with self.span("streaming.run_foreach_batch"):
            stream = from_tiff_stream(
                self.spark, self.drop, glob="*.ome.tif", max_files_per_trigger=self.files_per_trigger
            )
            run_foreach_batch(stream, self._sink, output_mode="append", checkpoint=self.ckpt)
        wall = time.perf_counter() - t0
        self.rounds += 1
        prev = t0
        for k, (_, _, end, traced) in enumerate(self.callbacks[first:]):
            self.samples.append(("start" if k == 0 else "batch", end - prev, traced))
            prev = end
        return wall

    def warm_up(self) -> None:
        # the first batch starts the Python workers and compiles the
        # stream and MERGE code paths; from the second on, batches run
        # near their steady cost
        self._round(2)
        self.samples = []

    def loop(self, seconds: float, alternate: bool) -> None:
        self.loop_first = len(self.callbacks)
        self.log_before = (_dir_bytes(self.table), self._checkpoints(), self.raw_bytes)
        deadline = time.perf_counter() + seconds
        i = 0
        # a traced run needs one untraced and one traced unit at least
        while time.perf_counter() < deadline or (alternate and i < 2):
            # a traced run traces every other round, so every span of a
            # traced round is complete and untraced rounds carry no spans
            self.tracer.enabled = alternate and i % 2 == 1
            staged = self.arrivals
            self.stream_s += self._round(self.batches_per_round)
            self.images += self.arrivals - staged
            i += 1
        self.tracer.enabled = alternate
        self.log_after = (_dir_bytes(self.table), self._checkpoints(), self.raw_bytes)

    def _checkpoints(self) -> int:
        log = os.path.join(self.table, "_ome_log")
        return sum(1 for f in os.listdir(log) if f.endswith(".checkpoint.json"))

    def check(self) -> tuple[int, int, dict[str, Any]]:
        """Every image is in the table exactly once with its shape, and
        its per-plane pixel sums from ``plane_stats`` equal numpy's.  A
        point lookup of a few ids, half of them re-acquired, returns
        exactly those ids, and the plane sums of a ``slice_images`` crop
        of them equal numpy's."""
        from ome_arrow_spark.operators.describe import describe
        from ome_arrow_spark.operators.views import plane_stats

        df = self.read(self.table)
        with self.span("operators.describe"):
            shapes = describe(df).select("image_id", "size_t", "size_c", "size_z", "size_y", "size_x").collect()
        with self.span("operators.plane_stats"):
            whole = _plane_sums(plane_stats(df).select("image_id", "t", "c", "z", "px_sum").collect())
        copies: dict[str, int] = {}
        shape_of = {}
        for r in shapes:
            copies[r["image_id"]] = copies.get(r["image_id"], 0) + 1
            shape_of[r["image_id"]] = tuple(r)[1:]
        bad = 0
        for image_id in self.source:
            vol = self._volume(image_id)
            ok = copies.get(image_id) == 1 and shape_of[image_id] == self.shape
            bad += not (ok and self._sums_match(whole, image_id, vol))
        extra = len(set(copies) - set(self.source))
        lookup_ok = self._lookup()
        return (
            len(self.source) + 1,
            bad + extra + (not lookup_ok),
            {"images_in_table": len(copies), "lookup_ok": lookup_ok},
        )

    @staticmethod
    def _sums_match(got: dict[tuple, int], image_id: str, vol: np.ndarray) -> bool:
        want = inputs.plane_sums(vol).reshape(vol.shape[:3])
        return all(got.get((image_id, *k)) == int(v) for k, v in np.ndenumerate(want))

    def _lookup(self) -> bool:
        from ome_arrow_spark.operators.slice_op import slice_images
        from ome_arrow_spark.operators.views import plane_stats

        g = inputs.rng(self.seed, 7)
        again = sorted(i for i in self.preloaded if self.source[i] != self.preloaded[i])
        other = sorted(set(self.source) - set(again))
        half = self.lookup_ids // 2
        wanted = [str(i) for i in g.choice(again, size=min(half, len(again)), replace=False)]
        wanted += [str(i) for i in g.choice(other, size=self.lookup_ids - len(wanted), replace=False)]
        df = self.read(self.table, image_ids=wanted)
        x_max, y_max = self.crop
        with self.span("operators.slice_images"):
            sliced = slice_images(df, 0, x_max, 0, y_max)
        with self.span("operators.plane_stats"):
            rows = plane_stats(sliced).select("image_id", "t", "c", "z", "px_sum").collect()
        cropped = _plane_sums(rows)
        planes = self._spec("").planes
        return (
            len(rows) == len(wanted) * planes
            and {k[0] for k in cropped} == set(wanted)
            and all(self._sums_match(cropped, i, self._volume(i)[..., :y_max, :x_max]) for i in wanted)
        )

    @property
    def intervals(self) -> list[float]:
        return [seconds for _, seconds, _ in self.samples]

    def e2e(self) -> dict[str, float]:
        return {
            "throughput_per_s": self.images / self.stream_s,
            "latency_p50_s": median(self.intervals),
        }

    def details(self) -> dict[str, Any]:
        return {
            "images_per_s": self.images / self.stream_s,
            "images": self.images,
            "rounds": self.rounds - 1,  # the warm-up round is not counted
            "batch_p50_s": median(self.intervals),
            **_tail("batch", self.intervals),
            "storage_ratio": _dir_bytes(self.table) / self.raw_bytes,
            "checkpoints_crossed": self.log_after[1] - self.log_before[1],
        }

    def extras(self) -> None:
        """Decode-only twin of everything staged: the same files through
        ``from_tiff_dir`` into the ``noop`` sink."""
        from ome_arrow_spark.sources.tiff import from_tiff_dir

        with self.span("tiff.from_tiff_dir"):
            from_tiff_dir(self.spark, self.drop, glob="*.ome.tif").write.format("noop").mode(
                "overwrite"
            ).save()

    def layer(self) -> dict[str, float]:
        from ome_arrow_spark.sources.table_log import table_history

        out = super().layer()
        spans = self.tracer.spans
        decode = [s for s in spans if s.name == "tiff.from_tiff_dir"]
        if decode:
            n_files = len(os.listdir(self.drop))
            out["tiff.decode_ms_per_image"] = (
                decode[-1].counters["executor_run_s"] * 1000.0 / n_files
            )
        # only timed rounds count, and between rounds the query restarts:
        # only gaps inside a round count
        timed = self.callbacks[self.loop_first :]
        gaps = [
            b_start - a_end
            for (a_round, _, a_end, _), (b_round, b_start, _, _) in zip(timed, timed[1:])
            if a_round == b_round
        ]
        if gaps:
            out["streaming.trigger_gap_s"] = median(gaps)
        history = {h["version"]: h for h in table_history(self.table)}
        for call in ("create_ome_table", "append_ome_table", "upsert_ome_table"):
            versions = [
                s.result for s in spans if s.name == f"table_log.{call}" and s.result in history
            ]
            if versions:
                out[f"table_log.{call}.files_added"] = median(
                    [history[v]["added_files"] for v in versions]
                )
                out[f"table_log.{call}.files_removed"] = median(
                    [history[v]["removed_files"] for v in versions]
                )
        b0, c0, r0 = self.log_before
        b1, c1, r1 = self.log_after
        out["table_log.bytes_written_per_user_byte"] = (b1 - b0) / (r1 - r0)
        out["table_log.checkpoints"] = float(c1 - c0)
        return out


# ---------------------------------------------------------------------------
# link
# ---------------------------------------------------------------------------


class Link(Workload):
    """One ``knn_join_lsh`` self-join with library defaults over seeded
    per-image embeddings, collected in full and scored against numpy."""

    name = "link"
    #: a set-up here is a new session and two DataFrames, short enough
    #: that more of them are needed to steady the median
    setup_reps = 9
    n = 500
    dim = 32
    clusters = 24
    dup_share = 0.1
    k = 3
    #: a join whose recall@k falls below this fails its check; the
    #: library defaults reach 0.99 or more on every seed tried
    recall_floor = 0.95

    def __init__(self, seed, work, tracer):
        super().__init__(seed, work, tracer)
        self.emb = inputs.embeddings(seed, self.n, self.dim, self.clusters, self.dup_share)
        self.ids = [f"e{i:06d}" for i in range(self.n)]
        self.results: list[list[tuple[str, str]]] = []

    def _join(self, left, right) -> list[tuple[str, str]]:
        from ome_arrow_spark.operators.similarity import knn_join_lsh

        with self.span("similarity.knn_join_lsh"):
            rows = knn_join_lsh(left, right, k=self.k).select("qid", "cid").collect()
        return [(r[0], r[1]) for r in rows]

    def setup(self, spark) -> None:
        """The embedding table as the left (``qid``) and right (``cid``)
        side of the self-join."""
        import pyarrow as pa

        self.spark = spark
        offsets = pa.array(np.arange(0, (self.n + 1) * self.dim, self.dim, dtype=np.int32))
        vectors = pa.ListArray.from_arrays(offsets, pa.array(self.emb.reshape(-1)))
        self.left = spark.createDataFrame(pa.table({"qid": self.ids, "embedding": vectors}))
        self.right = self.left.withColumnRenamed("qid", "cid")

    def warm_up(self) -> None:
        # the first join starts the Python workers and compiles the plans;
        # from the third on, joins run near their steady cost
        for _ in range(2):
            self._join(self.left, self.right)

    def loop(self, seconds: float, alternate: bool) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        # a traced run needs one untraced and one traced unit at least
        while time.perf_counter() < deadline or (alternate and i < 2):
            self.tracer.enabled = alternate and i % 2 == 1
            t0 = time.perf_counter()
            self.results.append(self._join(self.left, self.right))
            self.samples.append(("join", time.perf_counter() - t0, self.tracer.enabled))
            i += 1
        self.tracer.enabled = alternate

    def recall(self, rows: list[tuple[str, str]], truth: np.ndarray) -> float:
        index = {q: i for i, q in enumerate(self.ids)}
        hits = 0
        for q, c in rows:
            hits += index[c] in truth[index[q]]
        return hits / (self.n * self.k)

    def check(self) -> tuple[int, int, dict[str, Any]]:
        """Every id gets between 1 and k neighbours (the self-join finds
        at least the id itself), every neighbour is a known id, and the
        recall@k against brute force reaches ``recall_floor``."""
        truth = inputs.brute_force_topk(self.emb, self.k)
        known = set(self.ids)
        bad = 0
        recalls = []
        for rows in self.results:
            per: dict[str, int] = {}
            for q, c in rows:
                per[q] = per.get(q, 0) + 1
            recalls.append(self.recall(rows, truth) if {c for _, c in rows} <= known else 0.0)
            ok = set(per) == known and all(1 <= n <= self.k for n in per.values())
            bad += not (ok and recalls[-1] >= self.recall_floor)
        self.link_recall = min(recalls, default=0.0)
        return len(self.results), bad, {"link_recall": self.link_recall}

    def e2e(self) -> dict[str, float]:
        walls = [s for _, s, _ in self.samples]
        return {
            "throughput_per_s": self.n * len(walls) / sum(walls),
            "latency_p50_s": median(walls),
        }

    def details(self) -> dict[str, Any]:
        return {"link_s": self.e2e()["latency_p50_s"], "joins": len(self.samples), "rows": self.n}

    def extras(self) -> None:
        """Candidate relation on its own, counted, so the pair volume
        and the share surviving the top-k cut are measured."""
        from ome_arrow_spark.operators.similarity import knn_join_candidates

        with self.span("similarity.knn_join_candidates") as s:
            n = knn_join_candidates(self.left, self.right).count()
        if s is not None:
            s.result = n

    def layer(self) -> dict[str, float]:
        out = super().layer()
        cands = [s.result for s in self.tracer.spans if s.name == "similarity.knn_join_candidates"]
        if cands and cands[-1]:
            out["similarity.candidate_pairs"] = float(cands[-1])
            out["similarity.result_to_candidate_ratio"] = len(self.results[-1]) / cands[-1]
        return out


WORKLOADS = {w.name: w for w in (AcquireMerge, Link)}
