"""Streaming ingest into the full-text index: Structured Streaming source →
`foreachBatch` → the LSM incremental update path, with idempotent epoch
tracking, crash-window rollback, and periodic background compaction.

Reference parity: MacroBase v0's engine is a push-streaming pipeline fed by
ingesters (`legacy/src/main/java/macrobase/ingest/*.java`,
`legacy/.../analysis/pipeline/stream/*`); its analysis state updates per
tuple. Here the same continuously-arriving-transcripts story runs on
Structured Streaming: each micro-batch appends an O(delta) LSM segment
(`index/build.py:update_index`), queries stay exact between updates
(cross-row df sums + version-gated block pruning), and `compact_index`
runs every `compact_every` epochs to merge segments back into single rows.

Effectively-once protocol (two pieces):

1. **Committed ledger** (`_stream_epochs.json`): epochs whose mutation fully
   landed. A re-delivered committed epoch is a no-op. The ledger is O(1):
   epoch ids are monotonically increasing per checkpoint (a failure replays
   the SAME id, never an older one), so a high-water mark plus a short
   recent-ids window suffices — the file does not grow with stream lifetime.

2. **Inflight journal** (`_epoch_inflight.json`): written BEFORE the index
   mutation starts, it snapshots everything the mutation may touch — the
   stats.json bytes, the file listing of docs.parquet/ and every
   postings/bucket=*/ dir, and the manifest byte length. The journal is
   cleared only AFTER the ledger commit. A crash anywhere between journal
   write and ledger commit therefore leaves the journal behind, and the
   replayed epoch first ROLLS BACK to the snapshot (delete files not in the
   snapshot, restore stats.json, truncate the manifest) before re-applying.
   This closes the window where update_index had appended postings/docs but
   the ledger had not yet recorded the epoch — previously a replay would
   have duplicated those postings. Snapshot cost is one listdir per bucket
   dir (bucket count is fixed, file counts are bounded by compaction), not
   a data scan.

Checkpoint identity: the ledger records the `run_id` (the checkpoint dir by
default). Restarting a stream with a FRESH checkpoint resets epoch ids to 0,
so `epoch <= high_water` would silently drop every batch against an existing
index; a run_id mismatch now raises by default (`on_run_id_change="error"`)
or, explicitly opted into, resets the epoch ledger
(`on_run_id_change="reset"` — correct only if the new stream's source does
NOT replay data already in the index).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

from macrobase_spark.index.build import (take_index_snapshot as _take_snapshot,
                                         rollback_index_snapshot
                                         as _rollback_to_snapshot)

_EPOCHS_FILE = "_stream_epochs.json"
_INFLIGHT_FILE = "_epoch_inflight.json"


def _load_epochs(out_dir: str) -> dict:
    path = os.path.join(out_dir, _EPOCHS_FILE)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"committed": [], "since_compact": 0}


def _save_epochs(out_dir: str, rec: dict) -> None:
    path = os.path.join(out_dir, _EPOCHS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)  # atomic on POSIX: a crash never half-writes


def apply_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = 0,
    build_kwargs: dict | None = None,
    run_id: str | None = None,
    on_run_id_change: str = "error",
) -> str:
    """Apply one micro-batch to the index at `out_dir`. Returns what was
    done: 'skip_empty' | 'skip_replayed' | 'build' | 'update' |
    'update+compact' (each possibly prefixed 'rollback+' when a crashed
    uncommitted attempt was first undone). Usable directly as a foreachBatch
    body or standalone (tested standalone so the logic is exercised without
    a streaming query).

    run_id identifies the stream's checkpoint; see the module docstring for
    the fresh-checkpoint protection it provides.
    """
    from macrobase_spark.index.build import (build_index, compact_index,
                                             invalidate_index_cache,
                                             restore_compact_backup,
                                             update_index)

    os.makedirs(out_dir, exist_ok=True)
    # recover a crashed compaction BEFORE snapshotting: compaction carries
    # its own backup/restore protocol (its overwrite deletes old segment
    # files, which the inflight-journal rollback could not resurrect)
    restore_compact_backup(out_dir)
    rec = _load_epochs(out_dir)
    if run_id is not None:
        prev_run = rec.get("run_id")
        if prev_run is not None and prev_run != run_id:
            if on_run_id_change == "reset":
                # a crashed OLD-run epoch may have left an inflight journal;
                # its epoch ids mean nothing under the new run — roll the
                # partial mutation back now (otherwise the id-mismatch
                # branch below wedges every batch of the new stream)
                stale = os.path.join(out_dir, _INFLIGHT_FILE)
                if os.path.exists(stale):
                    with open(stale) as f:
                        old_inf = json.load(f)
                    if old_inf.get("run_id") != run_id:
                        from macrobase_spark.index.build import (
                            invalidate_index_cache as _inv)

                        _rollback_to_snapshot(out_dir, old_inf["snapshot"])
                        _inv(out_dir)
                        os.remove(stale)
                rec = {"committed": [], "since_compact":
                       rec.get("since_compact", 0)}
            else:
                raise RuntimeError(
                    f"index at {out_dir!r} was built by stream run "
                    f"{prev_run!r} but this batch arrives from {run_id!r} "
                    "(checkpoint changed, epoch ids restarted). Refusing to "
                    "silently skip or duplicate data — point the stream at "
                    "a fresh index dir, restore the original checkpoint, or "
                    "pass on_run_id_change='reset' if (and only if) the new "
                    "stream does not replay data already in the index.")
        rec["run_id"] = run_id

    high_water = max(rec["committed"], default=-1)
    prefix = ""
    inflight_path = os.path.join(out_dir, _INFLIGHT_FILE)
    if os.path.exists(inflight_path):
        with open(inflight_path) as f:
            inflight = json.load(f)
        if inflight["epoch_id"] in rec["committed"] or (
                inflight["epoch_id"] <= high_water):
            os.remove(inflight_path)  # stale: crash fell between ledger
            # commit and journal clear — the epoch DID land
        elif inflight["epoch_id"] == epoch_id:
            # crash mid-apply or pre-ledger-commit: undo, then re-apply
            _rollback_to_snapshot(out_dir, inflight["snapshot"])
            invalidate_index_cache(out_dir)
            os.remove(inflight_path)
            prefix = "rollback+"
        else:
            raise RuntimeError(
                f"uncommitted inflight epoch {inflight['epoch_id']} found "
                f"while applying epoch {epoch_id} — the index at "
                f"{out_dir!r} needs the crashed epoch replayed first "
                "(foreachBatch replays the failed epoch before advancing; "
                "seeing a different id here means the checkpoint and index "
                "dir are out of sync).")
    if epoch_id in rec["committed"] or epoch_id <= high_water:
        return "skip_replayed"  # failure re-delivery: already applied
    # cheap emptiness probe on the projected columns only
    if batch_df.select(doc_id_col).limit(1).count() == 0:
        return "skip_empty"

    # journal BEFORE mutating: cleared only after the ledger commit below,
    # so any crash in between leaves the rollback recipe behind
    snapshot = _take_snapshot(out_dir)
    tmp = inflight_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"epoch_id": epoch_id, "run_id": run_id,
                   "snapshot": snapshot}, f)
    os.replace(tmp, inflight_path)

    fresh = snapshot["stats"] is None
    if fresh:
        build_index(batch_df, out_dir, doc_id_col=doc_id_col,
                    text_col=text_col, resume=False,
                    **(build_kwargs or {}))
        action = "build"
    else:
        update_index(batch_df, out_dir, doc_id_col=doc_id_col,
                     text_col=text_col, journal=False)
        action = "update"

    # bounded ledger: high-water mark + a short recent window (see module
    # docstring — epoch ids only ever move forward per checkpoint)
    rec["committed"] = sorted(set(rec["committed"]) | {epoch_id})[-64:]
    if action == "update":
        rec["since_compact"] += 1
    _save_epochs(out_dir, rec)  # ← the epoch commit point
    os.remove(inflight_path)
    # compaction runs AFTER the epoch commit: it never changes query
    # results (rank identity), carries its own backup/restore crash
    # protocol, and a crash here must not re-apply the epoch's postings.
    # If the since_compact reset below is lost to a crash, the next due
    # epoch simply compacts again — idempotent.
    if action == "update" and compact_every and (
            rec["since_compact"] >= compact_every):
        compact_index(batch_df.sparkSession, out_dir)
        rec["since_compact"] = 0
        _save_epochs(out_dir, rec)
        action = "update+compact"
    return prefix + action


def stream_index_updates(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = 8,
    trigger: dict | None = None,
    build_kwargs: dict | None = None,
    on_run_id_change: str = "error",
):
    """Attach the index-maintenance sink to a streaming DataFrame of turns
    (doc_id, text, ...). Returns the started StreamingQuery.

    trigger: passed to DataStreamWriter.trigger — e.g.
    {"availableNow": True} to drain what's currently available and stop
    (batch-incremental ingest), or {"processingTime": "30 seconds"}.

    Scale shape: every epoch is one O(delta) distributed job (the same
    term-keyed encode plan as the fresh build — one segment row per
    touched term); the driver-side bookkeeping here is a handful
    of file ops per epoch. Compaction cost is amortized background work
    bounded by the buckets the deltas touched.
    """
    run_id = os.path.abspath(checkpoint_dir)

    def _body(batch_df: DataFrame, epoch_id: int) -> None:
        apply_stream_batch(batch_df, epoch_id, out_dir,
                           doc_id_col=doc_id_col, text_col=text_col,
                           compact_every=compact_every,
                           build_kwargs=build_kwargs,
                           run_id=run_id,
                           on_run_id_change=on_run_id_change)

    writer = stream_df.writeStream.foreachBatch(_body).option(
        "checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
