"""Structured-Streaming sketch build, and the one micro-batch commit path
of every streaming operator.

Sketches are CRDT-ish mergeable states, so streaming ingestion is
foreachBatch + merge: every micro-batch runs the same fused vectorized
partition-local build as the batch path (operators/build.py), and the
per-batch states merge into a persisted running state
(``SketchStateStore``).

All four operators (``sketch_stream``, ``windowed_sketch_stream`` and
dedup_stream.py's two pre-filters) start through ``_start_stream`` and
commit each micro-batch through ``_run_batch``; an operator is only its
step. Restart safety comes from Spark's checkpointed batch id: a
replayed batch (``_is_replay``) is skipped, so states are exactly-once
even though only HLL / Bloom merges are idempotent (CMS, quantiles and
the dedup keep decisions are not).

``windowed_sketch_stream`` keys the same machinery by a tumbling
event-time window (``F.window``), giving per-window sketch states — late
data merges into its window's state whenever it arrives, watermark-free
(sketch merge is order-independent, unlike exact windowed aggregation).
"""

from __future__ import annotations

import functools
import pickle
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType, TimestampNTZType

from ..operators.build import sketch_table
from ..operators.grouped import _group_key, _grouped_schema, grouped_sketch
from ..operators.specs import SketchSpec, merge_blobs, sketch_from_bytes


class SketchStateStore:
    """Running sketch states keyed by group (() for global), persisted
    through the Hadoop FileSystem API — so `state_dir` can be a local
    path, a ``file:`` URI, HDFS, or any object store the cluster's Hadoop
    conf knows, exactly like plans/checkpoint.py's manifest (VERDICT r02
    #7: the old store pickled via os.path and broke off local disk).

    Crash safety without an overwrite-rename (HDFS rename won't clobber,
    object stores aren't atomic on overwrite): each save writes
    ``state.b<version>.pkl`` (version = monotone snapshot counter; the
    batch id lives inside the blob) via a temp file + rename-to-new-name,
    and ``load`` picks the highest completed version — a crash at any point
    leaves the previous snapshot intact and readable. States and the
    batch id live in one snapshot, so a replayed batch can never
    double-merge (the foreachBatch guard reads both together)."""

    def __init__(self, state_dir: str, spark: SparkSession | None = None):
        self.state_dir = state_dir
        self._spark = spark
        # (snapshot path, byte length) -> parsed snapshot: per-group reads
        # (store.sketches in a loop) must not re-read the whole blob per
        # group. Single-writer store: the cache key changes with every
        # committed batch (path embeds the batch id).
        self._cache: tuple | None = None

    def _fs(self):
        spark = self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("SketchStateStore needs an active SparkSession")
        jvm = spark._jvm
        dirp = jvm.org.apache.hadoop.fs.Path(self.state_dir)
        fs = dirp.getFileSystem(spark._jsc.hadoopConfiguration())
        return jvm, fs, dirp

    def _snapshots(self, jvm, fs, dirp) -> list[tuple[int, object]]:
        if not fs.exists(dirp):
            return []
        out = []
        for st in fs.listStatus(dirp):
            name = st.getPath().getName()
            if name.startswith("state.b") and name.endswith(".pkl"):
                out.append((int(name[len("state.b") : -len(".pkl")]), st.getPath()))
        return sorted(out)

    @staticmethod
    def _copy_states(states: dict) -> dict:
        # two levels deep: group -> {state_col -> bytes}; blob values are
        # immutable. Callers mutate the returned dict in place (process()
        # merges into it), so the cache must never hand out its own copy
        # (code-review r3: an aliased cache + a failed save would
        # double-merge on an in-process retry)
        return {k: dict(v) for k, v in states.items()}

    def _read_snapshot(self, jvm, fs, path) -> dict:
        stream = fs.open(path)
        try:
            # read JVM-side, cross the py4j boundary as ONE base64 string:
            # a returned java byte[] is decoded by py4j with a per-byte
            # Python loop (minutes for a multi-group state blob)
            data_b64 = jvm.java.util.Base64.getEncoder().encodeToString(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        import base64

        return pickle.loads(base64.b64decode(data_b64))

    def load(self) -> tuple[dict, int]:
        states, last, _ = self.load_full()
        return states, last

    def load_full(self) -> tuple[dict, int, str | None]:
        """(states, last_batch_id, lineage). ``lineage`` identifies the
        batch-id numbering epoch the snapshot was written under (see
        ``checkpoint_identity``); None for snapshots from before the
        field existed."""
        jvm, fs, dirp = self._fs()
        snaps = self._snapshots(jvm, fs, dirp)
        if not snaps:
            # legacy single-file layout (pre-r3 local-disk store): migrate
            # rather than silently restarting months of running state
            legacy = jvm.org.apache.hadoop.fs.Path(dirp, "state.pkl")
            if fs.exists(dirp) and fs.exists(legacy):
                snapshot = self._read_snapshot(jvm, fs, legacy)
                return snapshot["states"], snapshot["last_batch_id"], None
            return {}, -1, None
        _, path = snaps[-1]
        key = (str(path), fs.getFileStatus(path).getLen())
        if self._cache is None or self._cache[0] != key:
            snap = self._read_snapshot(jvm, fs, path)
            self._cache = (key, (snap["states"], snap["last_batch_id"], snap.get("lineage")))
        states, last, lin = self._cache[1]
        return self._copy_states(states), last, lin

    def save(self, states: dict, batch_id: int, lineage: str | None = None) -> None:
        jvm, fs, dirp = self._fs()
        if not fs.exists(dirp):
            fs.mkdirs(dirp)
        blob = pickle.dumps(
            {"states": states, "last_batch_id": batch_id, "lineage": lineage}
        )
        # the snapshot NUMBER is a monotone version, not the batch id:
        # after a checkpoint reset batch ids renumber from 0, and a
        # batch-id-named snapshot would sort BELOW the previous lineage's
        # snapshots — load() would forever return stale state
        # (code-review r4). The batch id itself lives in the pickle.
        # ONE directory listing serves version derivation, superseded-
        # snapshot cleanup AND stale-tmp cleanup below — this commit path
        # runs per micro-batch and each listing is a remote LIST
        # round-trip on an object store (code-review r5: it listed 3x).
        entries = list(fs.listStatus(dirp))
        snaps = sorted(
            (int(st.getPath().getName()[len("state.b") : -len(".pkl")]), st.getPath())
            for st in entries
            if st.getPath().getName().startswith("state.b")
            and st.getPath().getName().endswith(".pkl")
        )
        # pre-write listing: our own tmp (created below) is never in it,
        # so every .pkl.tmp seen here is a stale leftover of a crashed save
        stale_tmps = [
            st.getPath() for st in entries if st.getPath().getName().endswith(".pkl.tmp")
        ]
        version = (snaps[-1][0] + 1) if snaps else max(batch_id, 0)
        tmp = jvm.org.apache.hadoop.fs.Path(dirp, f"state.b{version}.pkl.tmp")
        final = jvm.org.apache.hadoop.fs.Path(dirp, f"state.b{version}.pkl")
        stream = fs.create(tmp, True)
        try:
            stream.write(blob)
        finally:
            stream.close()
        # rename to a NEW name: atomic on HDFS/local. The Hadoop FS API
        # signals most rename failures by returning false, not raising —
        # an ignored false here would let the cleanup below delete the
        # only valid snapshot while the batch is treated as committed
        # (ADVICE r3). Verify both the boolean and the final path.
        if not fs.rename(tmp, final) or not fs.exists(final):
            raise IOError(
                f"SketchStateStore: rename {tmp} -> {final} failed; "
                "previous snapshot left intact, batch NOT committed"
            )
        # opportunistic cleanup of superseded snapshots (keep the latest)
        # and of stale temp files from crashed earlier saves — both from
        # the single pre-write listing above
        for v, path in snaps:
            if v < version:
                fs.delete(path, False)
        for path in stale_tmps:
            fs.delete(path, False)

    def sketches(self, specs: list[SketchSpec], group: tuple = ()) -> dict:
        states, _ = self.load()
        blobs = states.get(group, {})
        return {s.name: sketch_from_bytes(blobs[s.state_col]) for s in specs if s.state_col in blobs}

    def groups(self) -> list[tuple]:
        states, _ = self.load()
        return sorted(states.keys())


def checkpoint_identity(spark, checkpoint_dir: str) -> str:
    """Identity of the batch-id numbering EPOCH: the streaming query id
    persisted in ``<checkpoint>/metadata`` (written at query start,
    stable across restarts of the same checkpoint, regenerated when the
    dir is wiped). Replay guards must key on this, not the checkpoint
    PATH — a wiped-and-recreated dir keeps its path but renumbers batch
    ids from 0, and a path-keyed guard would then silently discard every
    new batch up to the old lineage's last id (code-review r5; the r4
    path guard only caught different-path resets). Falls back to the
    path when no metadata exists (e.g. direct batch replays outside a
    streaming query)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "metadata")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.open(p)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        import json

        qid = json.loads(text).get("id")
        return f"{checkpoint_dir}#{qid}" if qid else checkpoint_dir
    except Exception:
        return checkpoint_dir


def _is_replay(
    batch_id: int, last: int, lineage: str | None, legacy: str | None, identity: str, checkpoint_dir: str
) -> bool:
    """The replay rule: replay iff ``batch_id <= last`` and the snapshot's
    batch-id numbering epoch is the current one (``identity``, see
    ``checkpoint_identity``) — after a checkpoint reset ids renumber from
    0 and are new data. Where a legacy per-group ``"lineage"`` field
    exists (``legacy``: dedup snapshots that stored the checkpoint DIR
    PATH), it must equal ``identity`` or ``checkpoint_dir``. Otherwise the
    store-level ``lineage`` must be None (a snapshot from before any
    lineage: the id is the only evidence) or equal ``identity``.

    So, for every operator: a snapshot with neither field IS a replay
    (skipping keeps a dedup sink from firing twice and ``n_rows`` from
    double counting, as it keeps CMS from double merging); a store-level
    lineage equal to the bare path while ``identity`` carries a query id
    is NOT a replay (the bare path is written only when no
    ``<checkpoint>/metadata`` exists, i.e. a batch driven outside a
    query, so a query id means a query has since started a new epoch
    there, and skipping would drop its renumbered batches up to
    ``last``)."""
    if batch_id > last:
        return False
    if legacy is not None:
        return legacy in (identity, checkpoint_dir)
    return lineage is None or lineage == identity


def _run_batch(
    store: SketchStateStore, batch_df: DataFrame, batch_id: int, checkpoint_dir: str, step
) -> None:
    """Commit one micro-batch exactly once: read the snapshot and the
    epoch once, return on a replay, else let ``step(states)`` merge the
    batch into the running states and save states, ``batch_id`` and the
    epoch as one snapshot (a failing step commits nothing)."""
    # foreachBatch runs on a py4j callback thread where getActiveSession
    # may be unset — bind the batch's session
    store._spark = batch_df.sparkSession
    states, last, lineage = store.load_full()
    identity = checkpoint_identity(batch_df.sparkSession, checkpoint_dir)
    # read once, then dropped: the store-level epoch supersedes it
    legacy = states.get((), {}).pop("lineage", None)
    if _is_replay(batch_id, last, lineage, legacy, identity, checkpoint_dir):
        return
    step(states)
    store.save(states, batch_id, lineage=identity)


def _start_stream(sdf: DataFrame, state_dir: str, checkpoint_dir: str, trigger, body):
    """Start ``sdf`` with ``body(batch_df, batch_id, store, checkpoint_dir)``
    as its foreachBatch function; returns the StreamingQuery."""
    store = SketchStateStore(state_dir)
    writer = sdf.writeStream.foreachBatch(
        lambda batch_df, batch_id: body(batch_df, batch_id, store, checkpoint_dir)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _merge_state(states: dict, key: tuple, specs: list[SketchSpec], row) -> None:
    """Merge one state row (a state blob per spec + ``n_rows``) into ``states[key]``."""
    blobs = states.setdefault(key, {})
    for s in specs:
        blobs[s.state_col] = merge_blobs(blobs.get(s.state_col), row[s.state_col])
    blobs["n_rows"] = blobs.get("n_rows", 0) + row["n_rows"]


def _sketch_batch(batch_df, batch_id, store, checkpoint_dir, specs) -> None:
    """foreachBatch body of ``sketch_stream``."""

    def step(states):
        res = sketch_table(batch_df, specs)
        row = {s.state_col: res.sketches[s.name].to_bytes() for s in specs}
        _merge_state(states, (), specs, {**row, "n_rows": res.n_rows})

    _run_batch(store, batch_df, batch_id, checkpoint_dir, step)


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _window_key(start: datetime) -> tuple:
    """State key of a window starting at ``start``: its ISO-8601 string,
    in UTC for an aware start (a TIMESTAMP column, e.g.
    ``('2024-01-01T10:00:00+00:00',)``) and as is for a naive one (a
    TIMESTAMP_NTZ wall-clock time, ``('2024-01-01T10:00:00',)``)."""
    if start.tzinfo is not None:
        start = start.astimezone(timezone.utc)
    return (start.isoformat(),)


def _rekey_legacy_windows(states: dict, specs: list[SketchSpec], ntz: bool) -> None:
    """Re-key, in place, window states saved under the old key: ``str``
    of the naive window start as ``collect()`` rendered it
    (``'2024-01-01 15:30:00'``, no ``T``). For a TIMESTAMP_NTZ column
    that was the zone-free wall-clock time; for a TIMESTAMP column it was
    the writing driver's local time, which is read here in THIS
    process's local zone (``TZ``): right when the store was written
    under the same zone. After the first commit no legacy key is left."""
    for key in [k for k in states if len(k) == 1 and isinstance(k[0], str) and "T" not in k[0]]:
        blobs = states.pop(key)
        start = datetime.fromisoformat(key[0])
        _merge_state(states, _window_key(start if ntz else start.astimezone()), specs, blobs)


def _window_batch(batch_df, batch_id, store, checkpoint_dir, specs, ts_col, window) -> None:
    """foreachBatch body of ``windowed_sketch_stream``."""

    def step(states):
        ntz = isinstance(batch_df.schema[ts_col].dataType, TimestampNTZType)
        _rekey_legacy_windows(states, specs, ntz)
        # F.window for every length: windows align to the epoch, so
        # "1 hour" and "60 minutes" agree under any session time zone.
        # A TIMESTAMP start leaves the JVM as epoch microseconds: collected
        # as a timestamp it would be a naive datetime in the driver's zone
        start = F.window(ts_col, window)["start"]
        win = batch_df.withColumn("__win", start if ntz else F.unix_micros(start))
        # salt_buckets and pre_partial pinned: micro-batches are narrow and
        # window keys few, so the defaults' partition-count probe and
        # cardinality-sample job would only add per-batch latency
        rows = grouped_sketch(win, ["__win"], specs, salt_buckets=1, pre_partial=True).collect()
        for r in rows:
            w = r["__win"]
            key = _window_key(w if ntz else _EPOCH + timedelta(microseconds=w))
            _merge_state(states, key, specs, r)

    _run_batch(store, batch_df, batch_id, checkpoint_dir, step)


def sketch_stream(
    sdf: DataFrame,
    specs: list[SketchSpec],
    state_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Global streaming sketch build: returns the started StreamingQuery.
    Final/running states via SketchStateStore(state_dir).sketches(specs)."""
    body = functools.partial(_sketch_batch, specs=specs)
    return _start_stream(sdf, state_dir, checkpoint_dir, trigger, body)


def windowed_sketch_stream(
    sdf: DataFrame,
    specs: list[SketchSpec],
    state_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    trigger: dict | None = None,
):
    """Per-event-time-window sketch states (tumbling windows). Late rows
    merge into their window's state on arrival — no watermark needed
    because sketch merge is order-independent. Each window's state is
    keyed by its start as an ISO-8601 string (`_window_key`: UTC for a
    TIMESTAMP ``ts_col``, the wall-clock time for TIMESTAMP_NTZ), the
    same under any driver ``TZ``; keys from older stores are re-keyed on
    the first commit (`_rekey_legacy_windows`)."""
    body = functools.partial(_window_batch, specs=specs, ts_col=ts_col, window=window)
    return _start_stream(sdf, state_dir, checkpoint_dir, trigger, body)


def stateful_grouped_stream_df(
    sdf: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-key sketch states as a *native Spark stateful operator*:
    ``applyInPandasWithState`` keeps each group's serialized sketch blobs
    in the state store (RocksDB/HDFS-backed on a cluster, so state
    survives restarts via the query checkpoint — unlike the foreachBatch
    path, which owns its own store). Every trigger emits the group's
    updated running states + estimates.

    Returns the (streaming) DataFrame; caller attaches the sink. Update
    semantics: each emitted row supersedes the previous row for its key.
    Restart note (verified): the state store recovers across query
    restarts when the sink supports checkpoint recovery — use foreachBatch
    or a transactional sink; Spark's memory sink does not recover.

    Group columns follow the grouped build's key rule (``_group_key``):
    -0.0 and 0.0 are one key, NaN and null one null key, and a nested
    group column raises here. A running state that a checkpoint stored
    under a NaN key is not carried over: new NaN rows fold into the null
    key's state.
    """
    import pandas as pd

    from ..operators.build import batch_arrays, plan_exprs

    exprs, col_map = plan_exprs(specs)
    keys = [_group_key(sdf, c, "stateful_grouped_stream_df") for c in group_cols]
    prepared = sdf.selectExpr(*keys, *exprs)
    # StructTypes, not DDL strings: a group column named ``my col`` does
    # not parse unquoted
    out_schema = _grouped_schema(sdf, group_cols, specs)
    state_schema = StructType(
        [StructField("n_rows", LongType())] + [StructField(s.state_col, BinaryType()) for s in specs]
    )

    def stream_group_state(key, pdfs, state):
        if state.exists:
            stored = state.get
            n_rows = stored[0]
            sketches = {
                s.name: sketch_from_bytes(stored[1 + i]) for i, s in enumerate(specs)
            }
        else:
            n_rows = 0
            sketches = {s.name: s.new() for s in specs}
        for pdf in pdfs:
            n_rows += len(pdf)
            arrays = batch_arrays(pdf, specs, col_map)
            for s in specs:
                h, v, c = arrays[s.name]
                s.update(sketches[s.name], h, v, c)
        blobs = tuple(sketches[s.name].to_bytes() for s in specs)
        state.update((n_rows, *blobs))
        yield pd.DataFrame(
            [{**{c: k for c, k in zip(group_cols, key)}, "n_rows": n_rows,
              **{s.state_col: blobs[i] for i, s in enumerate(specs)}}]
        )

    return prepared.groupBy(*group_cols).applyInPandasWithState(
        stream_group_state, out_schema, state_schema, "update", timeout
    )
