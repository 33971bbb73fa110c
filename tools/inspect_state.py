"""Operator debugging aid: dump every piece of durable pipeline state in
one place — the rebuild's equivalent of the reference's checkpoint
metadata viewer (java/tools/CheckpointMetadataViewer.java, which walks a
Flink checkpoint's _metadata). Here the restart-relevant state is plain
files, so the viewer is a reader + validator, not a deserializer:

- ``<store>/<source_id>_offset.txt``   — source-native resume offset
- ``<store>/<source_id>_stopctl.json`` — stop-controller state (ST1-ST3)
- ``<store>/<source_id>_status.json``  — record count / last event ts
- a Spark Structured Streaming checkpoint dir (``metadata``, ``offsets/``,
  ``commits/``): query id, committed vs in-flight batch ids, and the
  latest batch's per-source file-feed positions.

Usage:
  python tools/inspect_state.py <store_dir> [checkpoint_dir] [--source-type mysql]

Prints one human block per artifact plus a final machine-readable JSON
line (everything it parsed).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_cdc_multi_spark.sources.offsets import validate_offset  # noqa: E402


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def inspect_store(store_dir: str, source_type: str | None) -> dict:
    out: dict = {"store_dir": store_dir, "offsets": {}, "status": {}, "stopctl": {}}
    if not os.path.isdir(store_dir):
        print(f"store dir missing: {store_dir}")
        return out
    for name in sorted(os.listdir(store_dir)):
        path = os.path.join(store_dir, name)
        if name.endswith("_offset.txt"):
            sid = name[: -len("_offset.txt")]
            raw = (_read(path) or "").strip()
            entry = {"offset": raw or None}
            if source_type and raw:
                entry["valid_for_" + source_type] = validate_offset(raw, source_type)
            out["offsets"][sid] = entry
            print(f"-- offset [{sid}]: {entry}")
        elif name.endswith("_status.json"):
            sid = name[: -len("_status.json")]
            try:
                out["status"][sid] = json.loads(_read(path) or "")
            except json.JSONDecodeError as e:
                out["status"][sid] = {"error": f"unparseable: {e}"}
            print(f"-- status [{sid}]: {out['status'][sid]}")
        elif name.endswith("_stopctl.json"):
            sid = name[: -len("_stopctl.json")]
            try:
                out["stopctl"][sid] = json.loads(_read(path) or "")
            except json.JSONDecodeError as e:
                out["stopctl"][sid] = {"error": f"unparseable: {e}"}
            print(f"-- stop controller [{sid}]: {out['stopctl'][sid]}")
    return out


def inspect_checkpoint(ckpt_dir: str) -> dict:
    """Spark Structured Streaming checkpoint layout (public format):
    ``metadata`` is one JSON line {"id": <query uuid>}; ``offsets/<n>``
    holds the WAL entry written BEFORE batch n runs (v1 line, a conf
    line, then one source-offset JSON line per source); ``commits/<n>``
    exists only after batch n fully committed. offsets-without-commit =
    the batch that was in flight at the crash and will re-run — the
    at-least-once window."""
    out: dict = {"checkpoint_dir": ckpt_dir}
    if not os.path.isdir(ckpt_dir):
        print(f"checkpoint dir missing: {ckpt_dir}")
        return out
    meta_raw = _read(os.path.join(ckpt_dir, "metadata"))
    if meta_raw:
        try:
            out["query"] = json.loads(meta_raw)
        except json.JSONDecodeError:
            out["query"] = {"raw": meta_raw.strip()}
        print(f"-- streaming query: {out['query']}")

    def batch_ids(sub: str) -> list[int]:
        d = os.path.join(ckpt_dir, sub)
        if not os.path.isdir(d):
            return []
        return sorted(int(n) for n in os.listdir(d) if n.isdigit())

    offsets, commits = batch_ids("offsets"), batch_ids("commits")
    out["batches"] = {
        "offsets_written": offsets,
        "committed": commits,
        "in_flight": sorted(set(offsets) - set(commits)),
    }
    print(f"-- batches: {out['batches']}")
    if offsets:
        latest = _read(os.path.join(ckpt_dir, "offsets", str(offsets[-1]))) or ""
        # v1 header line, conf json line, then per-source offset lines
        lines = [ln for ln in latest.splitlines() if ln.strip()]
        parsed = []
        for ln in lines[1:]:
            try:
                parsed.append(json.loads(ln))
            except json.JSONDecodeError:
                parsed.append({"raw": ln})
        out["latest_offset_entry"] = {"batch": offsets[-1], "lines": parsed}
        print(f"-- latest offsets/{offsets[-1]}: {parsed}")
    return out


def main() -> None:
    argv = sys.argv[1:]
    source_type = None
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--source-type"):
            if "=" in a:
                source_type = a.split("=", 1)[1]
            elif i + 1 < len(argv):
                i += 1
                source_type = argv[i]
        else:
            args.append(a)
        i += 1
    if not args:
        print(__doc__)
        sys.exit(2)
    result = inspect_store(args[0], source_type)
    if len(args) > 1:
        result["checkpoint"] = inspect_checkpoint(args[1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
