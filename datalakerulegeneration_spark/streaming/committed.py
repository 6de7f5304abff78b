"""The one commit protocol for every streaming sink's persisted state.

A state root holds one manifest (``_MANIFEST``, JSON) and one directory
per named output. Each write is a new version of its output: Spark
writes it into a hidden staging dir, and its part files then move up
into the output dir as ``v<N>-part-*``, N one above the highest version
on disk — never the batch id, because the index sinks accept a
restarted stream that numbers its batches from 0 again. The files sit
directly in the output dir so that the dir still reads as one parquet
table. The manifest records the last applied batch id and, per output,
the committed versions and their files. It is rewritten whole through
a tmp file and ``os.replace``: that rename is the only commit point.
Readers see only the files the manifest lists (a listed file that is
missing raises). After a commit, the versions it replaced and any
unlisted orphans of a crashed attempt are removed; until then a reader
of the bare output dir also sees those.

Sinks commit everything a batch produced (survivors, state, index) in
one flip, so a crash anywhere before it leaves the committed state
untouched and the replay recomputes from it. After the flip a replay
changes nothing: fold sinks skip a batch id the manifest has applied;
index sinks admit nothing, because their anti-join runs against the
committed index. One writer per root, readers unlimited. The root must
be a local path: the commit relies on POSIX rename atomicity.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST"
_VERSIONED = re.compile(r"_?v(\d+)(-|$)")  # a staging dir or a version's file


def _ls(d: str) -> list[str]:
    return os.listdir(d) if os.path.isdir(d) else []


class CommittedState:
    """The committed outputs under one state root."""

    def __init__(self, spark: SparkSession, root: str):
        if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", root):
            raise NotImplementedError(
                f"state roots must be local-filesystem paths (got {root!r}): "
                "the manifest commit uses POSIX atomic rename"
            )
        self.spark = spark
        self.root = root

    def manifest(self) -> dict:
        path = os.path.join(self.root, MANIFEST)
        if not os.path.exists(path):
            return {"batch_id": None, "outputs": {}}
        with open(path) as fh:
            return json.load(fh)

    def batch_id(self) -> int | None:
        """Id of the last committed batch, or None."""
        return self.manifest()["batch_id"]

    def applied(self, batch_id: int) -> bool:
        last = self.batch_id()
        return last is not None and batch_id <= last

    def versions(self, output: str) -> list[str]:
        return list(self.manifest()["outputs"].get(output, {}))

    def paths(self, output: str) -> list[str]:
        """The committed files of ``output``."""
        versions = self.manifest()["outputs"].get(output, {})
        paths = [os.path.join(self.root, output, f) for fs in versions.values() for f in fs]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise RuntimeError(
                f"committed state corrupted under {self.root}: the manifest "
                f"lists files that do not exist: {missing}"
            )
        return paths

    def read(self, output: str, schema: str | None = None) -> DataFrame:
        """The committed versions of ``output`` as one frame; empty with
        ``schema`` when none is committed (without one, that raises)."""
        paths = self.paths(output)
        if paths:
            return self.spark.read.parquet(*paths)
        if schema is None:
            raise FileNotFoundError(f"no committed {output!r} under {self.root}")
        return self.spark.createDataFrame([], schema)

    def begin(self) -> Transaction:
        return Transaction(self)

    def fold(self, output: str, part: DataFrame, merge, batch_id: int) -> None:
        """Commit ``merge(committed, part)`` — or ``part`` when nothing is
        committed yet — as the only version of ``output``; a batch id
        already applied is skipped."""
        if self.applied(batch_id):
            return
        if self.paths(output):
            part = merge(self.read(output), part)
        tx = self.begin()
        tx.write(output, part, replace=True)
        tx.commit(batch_id)


class Transaction:
    """Writes staged as new versions, published by one commit."""

    def __init__(self, state: CommittedState):
        self.state = state
        self._staged: dict[str, tuple[str, list[str], bool]] = {}

    def write(self, output: str, df: DataFrame, replace: bool = False) -> DataFrame:
        """Write ``df`` as a new version of ``output`` and return what
        was written, read back. On commit it joins the committed
        versions, or with ``replace`` becomes the only one. An append
        of zero rows stages nothing, so a replay adds no empty version."""
        d = os.path.join(self.state.root, output)
        n = 1 + max([0] + [int(m.group(1)) for m in map(_VERSIONED.match, _ls(d)) if m])
        stage = os.path.join(d, f"_v{n}")
        df.write.parquet(stage)
        parts = [p for p in sorted(_ls(stage)) if p.startswith("part-")]
        if not replace and not sum(
            pq.ParquetFile(os.path.join(stage, p)).metadata.num_rows for p in parts
        ):
            shutil.rmtree(stage)
            return self.state.spark.createDataFrame([], df.schema)
        files = [f"v{n}-{p}" for p in parts]
        for p, f in zip(parts, files):
            os.rename(os.path.join(stage, p), os.path.join(d, f))
        shutil.rmtree(stage)
        self._staged[output] = (f"v{n}", files, replace)
        return self.state.spark.read.schema(df.schema).parquet(*[os.path.join(d, f) for f in files])

    def commit(self, batch_id: int | None = None) -> None:
        """Publish the staged versions (and ``batch_id``) in one rename."""
        root = self.state.root
        m = self.state.manifest()
        if not self._staged and batch_id in (None, m["batch_id"]):
            return
        for output, (v, files, replace) in self._staged.items():
            kept = {} if replace else m["outputs"].get(output, {})
            m["outputs"][output] = {**kept, v: files}
        if batch_id is not None:
            m["batch_id"] = batch_id
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, os.path.join(root, MANIFEST))
        for output, versions in m["outputs"].items():
            d = os.path.join(root, output)
            keep = {f for fs in versions.values() for f in fs}
            for name in _ls(d):
                if _VERSIONED.match(name) and name not in keep:
                    p = os.path.join(d, name)
                    if os.path.isdir(p):
                        shutil.rmtree(p)
                    else:
                        os.remove(p)


def start_sink(
    stream: DataFrame, update, state_dir: str, checkpoint_dir: str | None = None
):
    """Drain ``stream`` into the foreachBatch hook ``update`` and stop
    (availableNow). The checkpoint defaults to ``<state_dir>/_checkpoint``
    so that a restarted stream keeps counting batch ids."""
    return (
        stream.writeStream.foreachBatch(update)
        .outputMode("update")
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
