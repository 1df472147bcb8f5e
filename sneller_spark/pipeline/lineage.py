"""Per-unit lineage manifests + commit log for checkpoint resume.

Spark analog of the reference's blockfmt descriptors + FileTree input
dedup: every ingested object is recorded in the table index so a
re-run skips already-converted inputs
(/root/reference/ion/blockfmt/index.go:115-145,
/root/reference/db/sync.go:366-430).

Layout under the pipeline output directory:

    out/
      routed/unit=<unit_id>/sink_id=<sink>/*.parquet   (data)
      manifests/<unit_id>.json                          (lineage)
      _commit.log                                       (append-only)
      _LAYOUT                       (pipeline/runner.py LAYOUT_VERSION)
      aggregates/                   (sum of the manifests' partials)
      compaction/gen-<k>.json       (pipeline/compact.py)

A unit is only *committed* once its manifest file exists; the manifest
is written via tmp-file + atomic rename AFTER the unit's data write
succeeded, so a killed job can never leave a committed-but-partial
unit.  Data for an uncommitted unit is overwritten wholesale on retry
(idempotent overwrite into the unit's own directory), which is what
makes resume exactly-once: no committed unit is reprocessed, no
uncommitted unit can double-count.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Any

import pyarrow.parquet as pq

ROUTED_SUBDIR = "routed"


@dataclass
class UnitManifest:
    """Lineage record for one committed unit of input."""

    unit_id: str
    inputs: list[str]                  # input files (with sizes) making up the unit
    input_bytes: int
    rows_in: int
    rows_routed: int
    per_sink_rows: dict[str, int]
    per_partition_rows: dict[str, int]  # spark partition id -> rows (lineage)
    wall_ms: float
    # file-identity fingerprint [basename, size, mtime_ns] per input:
    # an input rewritten in place (same name, new content) must not be
    # treated as committed — the FileTree ETag/mtime identity check
    # (/root/reference/db/sync.go:366-430).
    input_identity: list = field(default_factory=list)
    committed_at: float = field(default_factory=time.time)
    extra: dict[str, Any] = field(default_factory=dict)
    # [sink_id, source, level, n_rows, sum_n_tok] per group of the
    # unit's routed rows (aggregate.merge_partials); the final
    # aggregate is their sum over committed units
    partials: list = field(default_factory=list)


def file_identity(paths: list[str]) -> list:
    """Sorted [basename, size, mtime_ns] fingerprint for a file list."""
    out = []
    for p in paths:
        st = os.stat(p)
        out.append([os.path.basename(p), st.st_size, st.st_mtime_ns])
    return sorted(out)


class LineageLog:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_dir = os.path.join(out_dir, "manifests")
        self.commit_log = os.path.join(out_dir, "_commit.log")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def committed_units(self) -> set[str]:
        return {
            f[: -len(".json")]
            for f in os.listdir(self.manifest_dir)
            if f.endswith(".json")
        }

    def read_manifests(self) -> dict[str, UnitManifest | None]:
        """Every committed unit's manifest, each file parsed once; None
        for one that does not parse, whose unit then counts as
        uncommitted."""
        out: dict[str, UnitManifest | None] = {}
        for uid in sorted(self.committed_units()):
            try:
                out[uid] = self.read_manifest(uid)
            except (OSError, ValueError, TypeError):
                out[uid] = None
        return out

    def commit(self, manifest: UnitManifest) -> None:
        """Atomically publish the manifest, then append the commit log."""
        final = os.path.join(self.manifest_dir, f"{manifest.unit_id}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(manifest), f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)
        with open(self.commit_log, "a") as f:
            f.write(f"{manifest.committed_at:.6f}\t{manifest.unit_id}\t"
                    f"{manifest.rows_in}\t{manifest.rows_routed}\n")

    def read_manifest(self, unit_id: str) -> UnitManifest:
        with open(os.path.join(self.manifest_dir, f"{unit_id}.json")) as f:
            return UnitManifest(**json.load(f))


def inputs_match(m: UnitManifest | None, inputs: list[str]) -> bool:
    """Whether manifest ``m`` records the unit's current ``inputs``: its
    input identity — (basename, size, mtime_ns) per file — must match,
    so an input rewritten in place with the same name is reprocessed
    (the FileTree-identity check, reference db/sync.go:366-430)."""
    if m is None:
        return False
    try:
        current = file_identity(inputs)
    except OSError:
        return False
    return [list(e) for e in m.input_identity] == current


def require_parsed(manifests: dict[str, UnitManifest | None]) -> None:
    """Raise a ValueError naming every committed unit whose manifest
    does not parse."""
    unreadable = sorted(uid for uid, m in manifests.items() if m is None)
    if unreadable:
        raise ValueError(f"manifests of committed units {unreadable} do not parse")


def total_stats(manifests: dict[str, UnitManifest | None]) -> dict[str, int]:
    """ExecStats analog (reference plan/stats.go:28-60) over the
    committed units' manifests."""
    require_parsed(manifests)
    ms = manifests.values()
    return {
        "units": len(manifests),
        "rows_in": sum(m.rows_in for m in ms),
        "rows_routed": sum(m.rows_routed for m in ms),
        "input_bytes": sum(m.input_bytes for m in ms),
    }


def written_file_rows(unit_dir: str) -> tuple[dict[str, int], dict[str, int]]:
    """Per-sink and per-file row counts of the routed files under one
    ``unit=<id>`` directory, read from parquet FOOTERS only (no data
    scan, no Spark job)."""
    per_sink: dict[str, int] = {}
    per_file: dict[str, int] = {}
    for root, _dirs, fnames in os.walk(unit_dir):
        part = os.path.basename(root)
        if not part.startswith("sink_id="):
            continue
        sink = part[len("sink_id="):]
        for fn in fnames:
            if not fn.endswith(".parquet"):
                continue
            n = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
            per_sink[sink] = per_sink.get(sink, 0) + n
            per_file[f"{sink}/{fn}"] = n
    return per_sink, per_file
