"""Iterative-plan support: per-superstep lineage truncation + resumable
checkpoints with iteration metrics.

Why: an iterative DataFrame program (PageRank/CC/PLP supersteps) grows its
logical plan linearly per iteration; without truncation, Catalyst planning
time explodes and executor stacks overflow — the classic iterative-Spark
pitfall (SURVEY.md §3.2). Every superstep therefore materializes its state
through `materialize` (directly, via `truncate`, or via a Checkpointer), in
ONE Spark action: a 1-row aggregate (`count(*) AS rows` plus the caller's
convergence measures) over the persisted lazy checkpoint computes the
superstep, truncates its lineage, fills the cache and yields the measures.

Checkpointer modes:
- ephemeral (path=None): `materialize` — in-memory block-manager copy,
  no resume.
- durable (path=...): each superstep writes the state DataFrame as parquet
  under `{path}/iter={k}/` (the measures observed on that write) plus a
  `_meta.json` carrying {algorithm, params, iteration, metrics, schema,
  files}. Data lands first, meta last, so the latest iteration with a meta
  file is a complete snapshot; `latest()` refuses one whose algorithm,
  params or per-file byte sizes (per-partition lineage) disagree. On a
  real cluster this maps 1:1 onto an Iceberg table where each superstep is
  a snapshot and metrics live in snapshot summary properties; Iceberg jars
  are not in this image, so the layout is plain parquet + JSON with the
  same contract (BASELINE.json's north rule: "driver-resumable from
  Iceberg-snapshot checkpoints carrying per-partition lineage and
  iteration metrics").
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F


def _aggregates(measures: dict[str, Column] | None) -> list[Column]:
    return [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in (measures or {}).items()]


def unpersist(*dfs: DataFrame | None) -> None:
    """Unpersist each frame given; None entries and failures are skipped
    (a frame whose session or cache is already gone needs no release)."""
    for df in dfs:
        if df is not None:
            try:
                df.unpersist()
            except Exception:
                pass


def materialize(df: DataFrame, measures: dict[str, Column] | None = None,
                release: DataFrame | None = None) -> tuple[DataFrame, dict]:
    """Materialize `df` with truncated lineage and SANE statistics in ONE
    Spark action; return it with that action's `{"rows": count, **measures}`
    (measures: name -> aggregate Column over `df`).

    A bare `localCheckpoint` carries the plan's *estimated* stats, which in
    iterative programs compound per superstep until sizeInBytes overflows
    and Catalyst planning blows up; the persisted lazy checkpoint reports
    its REAL cached size. Never bare localCheckpoint in a loop.

    release: a superseded state DataFrame to unpersist AFTER the new one
    is materialized (loops must release old snapshots or cached state
    accumulates one copy per superstep).
    """
    aggs = _aggregates(measures)
    out = df.localCheckpoint(eager=False).persist()
    try:
        row = out.agg(*aggs).first()
    except Exception as e:  # noqa: BLE001
        # Spark cache-canonicalization bug: persisting a checkpoint whose
        # lineage contains certain ALREADY-CACHED relations can fail the
        # CacheManager plan match with "java.util.NoSuchElementException:
        # key not found: <attr>". Drop the persist and materialize the bare
        # checkpoint (its stats are the checkpoint's estimate, which is
        # accurate: it IS the materialized relation).
        if "key not found" not in str(e):
            raise
        unpersist(out)
        out = df.localCheckpoint(eager=False)
        row = out.agg(*aggs).first()
    unpersist(release)
    return out, row.asDict()


def truncate(df: DataFrame, release: DataFrame | None = None) -> DataFrame:
    """`materialize` without measures: the lineage-truncated, cached frame."""
    return materialize(df, release=release)[0]


def _files(it_dir: str) -> list[dict]:
    return [{"file": f, "bytes": os.path.getsize(os.path.join(it_dir, f))}
            for f in sorted(os.listdir(it_dir)) if f.endswith(".parquet")]


class Checkpointer:
    """Materializes a loop's supersteps and keeps one record per superstep,
    `{"iteration", "rows", **measures}`, in `records` (and, on a durable
    path, in each snapshot's `_meta.json` `metrics`)."""

    def __init__(self, spark: SparkSession, path: str | None = None,
                 algorithm: str = "", params: dict | None = None):
        self.spark = spark
        self.path = path
        self.algorithm = algorithm
        self.params = params or {}
        self.records: list[dict] = []
        self._state: DataFrame | None = None
        if path:
            os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------------------
    def save(self, df: DataFrame, iteration: int, metrics: dict | None = None) -> DataFrame:
        """Materialize `df` as superstep `iteration` and return the frame the
        next superstep reads. metrics (name -> aggregate Column) are
        evaluated by the materializing action; callers read `records[-1]`."""
        if self.path is None:
            # The previous superstep's blocks go once the new one exists.
            out, values = materialize(df, metrics, release=self._state)
            self._state = out
            self.records.append({"iteration": iteration, **values})
            return out

        it_dir = os.path.join(self.path, f"iter={iteration}")
        tmp_dir = it_dir + ".tmp"
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        obs = Observation()
        df.observe(obs, *_aggregates(metrics)).write.mode("overwrite").parquet(tmp_dir)
        record = {"iteration": iteration, **obs.get}
        if os.path.exists(it_dir):
            shutil.rmtree(it_dir)
        os.rename(tmp_dir, it_dir)

        meta = {"algorithm": self.algorithm, "params": self.params,
                "iteration": iteration, "metrics": record,
                "schema": df.schema.jsonValue(),
                "files": _files(it_dir),  # per-partition lineage of this snapshot
                "wall_time": time.time()}
        meta_tmp = os.path.join(it_dir, "_meta.json.tmp")
        with open(meta_tmp, "w") as fh:
            json.dump(meta, fh)
        os.rename(meta_tmp, os.path.join(it_dir, "_meta.json"))
        self.records.append(record)
        return self.spark.read.parquet(it_dir)

    # ------------------------------------------------------------------
    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Most recent complete snapshot → (iteration, df, meta), or None.

        A snapshot is complete once its `_meta.json` landed; dirs without
        one (a crash mid-write) are skipped. A complete snapshot written
        for another algorithm or params, or whose parquet files differ
        from its meta's `files`, raises ValueError — never falls back to
        an older one. Resuming from it restores `records` from the metas."""
        metas = self.history()
        if not metas:
            return None
        meta = metas[-1]
        it_dir = os.path.join(self.path, f"iter={meta['iteration']}")
        expected = {"algorithm": self.algorithm,
                    "params": json.loads(json.dumps(self.params)),
                    "files": _files(it_dir)}
        for field, want in expected.items():
            if meta.get(field) != want:
                raise ValueError(
                    f"snapshot {it_dir}: {field} {meta.get(field)!r} does not match {want!r}"
                )
        self.records = [m["metrics"] for m in metas]
        return meta["iteration"], self.spark.read.parquet(it_dir), meta

    def history(self) -> list[dict]:
        """All complete snapshots' metas, ascending by iteration."""
        if self.path is None or not os.path.isdir(self.path):
            return []
        metas = []
        for name in os.listdir(self.path):
            meta_path = os.path.join(self.path, name, "_meta.json")
            if name.startswith("iter=") and os.path.exists(meta_path):
                with open(meta_path) as fh:
                    metas.append(json.load(fh))
        return sorted(metas, key=lambda m: m["iteration"])

    def log(self, iterations: int) -> list[dict]:
        """The record of each superstep 1..iterations (the latest saved one
        per iteration); a superstep never saved on its own (fused into a
        later one) has only its iteration."""
        by_iteration = {r["iteration"]: r for r in self.records}
        return [by_iteration.get(k, {"iteration": k}) for k in range(1, iterations + 1)]

    def close(self):
        unpersist(self._state)
        self._state = None
