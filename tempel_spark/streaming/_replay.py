"""Shared replay-guard machinery for the streaming state maintainers
(`incremental_er`, `incremental_dedup`).

`foreachBatch` is at-least-once: a crash between the state commit and
the stream's offset commit replays the batch. Each maintainer folds
its per-batch delta into keyed state through `Catalog.upsert_fold`,
whose root marker carries (checkpoint dir, batch id, batch content
fingerprint, operator parameters) ATOMICALLY with the folded state —
`check_replay` is the single decision procedure over that marker:

* no marker yet → process (fresh state);
* marker from a DIFFERENT checkpoint dir → raise (a re-pointed /
  fresh checkpoint replays every file over kept state — the exact
  double-fold the id guard prevents, but silent because ids never
  line up);
* marker built under different operator parameters → raise (the
  state's semantic space — e.g. winnow k/w — is fixed at creation;
  folding incompatible deltas silently corrupts it);
* batch id beyond the applied high-water mark → process;
* batch id == applied with matching (or pre-fingerprint missing)
  content fingerprint → skip, a true replay;
* anything else (rewound id, same id with different contents) →
  raise: checkpoint and state must live and die together.

Both maintainers previously carried private copies of this logic; they
had already drifted (one logged a metric on skip, one didn't), which is
exactly the failure mode a shared helper removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tempel_spark.functions.hashing import set_fingerprint

__all__ = ["batch_content_fp", "make_marker", "check_replay"]


def batch_content_fp(df: DataFrame, cols: tuple[str, ...]) -> str:
    """Order-independent content fingerprint of a batch, as the
    marker string "count:hash" (`set_fingerprint`): deterministic
    across retries, partitionings, and core counts — which is what
    lets a marker comparison recognize a true replay."""
    return "%d:%d" % set_fingerprint(df, cols)


def make_marker(
    prefix: str, ckpt: str, batch_id: int, batch_fp: str, params: dict | None = None
) -> dict:
    """The state-commit marker `check_replay` reads back: every key is
    namespaced by ``prefix`` so unrelated maintainers sharing a catalog
    never collide. ``params`` pins operator parameters that define the
    state's semantic space (they must match on every later resume)."""
    m = {
        f"{prefix}_ckpt": ckpt,
        f"{prefix}_batch_id": batch_id,
        f"{prefix}_batch_fp": batch_fp,
    }
    for k, v in (params or {}).items():
        m[f"{prefix}_{k}"] = v
    return m


def check_replay(
    applied: dict,
    prefix: str,
    ckpt: str,
    batch_id: int,
    batch_fp: str,
    params: dict | None = None,
    state_desc: str = "state",
) -> bool:
    """Adjudicate a presented batch against the applied marker (the
    policy table in the module docstring). Returns True when the batch
    is a true replay of the applied batch (caller skips it); False when
    it must be processed; raises on every unsafe configuration."""
    if applied.get(f"{prefix}_batch_id") is None:
        return False
    if applied.get(f"{prefix}_ckpt") != ckpt:
        raise RuntimeError(
            f"stream checkpoint / {state_desc} mismatch: the state was "
            f"committed under checkpoint {applied.get(f'{prefix}_ckpt')!r} but "
            f"the stream is running with checkpoint {ckpt!r}. A fresh "
            "checkpoint dir replays every file and would re-fold "
            "already-applied counts. Supported reset: delete the catalog's "
            "stream state AND the stream checkpoint together (they live and "
            "die as a pair), or point the stream back at its original "
            "checkpoint dir."
        )
    for k, v in (params or {}).items():
        if applied.get(f"{prefix}_{k}") not in (None, v):
            raise RuntimeError(
                f"stream parameter / {state_desc} mismatch: the state was "
                f"built with {k}={applied.get(f'{prefix}_{k}')!r} but the "
                f"stream is running with {k}={v!r} — folding deltas from a "
                "different parameter space silently corrupts the state. "
                "Resume with the original parameters, or delete the stream "
                "state and checkpoint together and re-ingest."
            )
    applied_id = applied[f"{prefix}_batch_id"]
    if batch_id > applied_id:
        return False
    if batch_id == applied_id and applied.get(f"{prefix}_batch_fp") in (
        None,  # marker from before fingerprinting: id match alone decided then
        batch_fp,
    ):
        return True
    raise RuntimeError(
        f"stream checkpoint / {state_desc} mismatch: the state has applied "
        f"batch {applied_id} but the stream presented batch {batch_id} with "
        "unrecognized contents. The stream checkpoint dir was likely deleted "
        "while the state was kept — they must live and die together. Start "
        "fresh (or restore the checkpoint) instead."
    )
