"""Compaction — merge small per-unit sink files into size-targeted packs.

The Spark analog of the reference's blockfmt coalescing: its ingest
packs many small objects into few large packfiles behind an index
commit (ref: ion/blockfmt — minimum merge sizes; db/sync.go re-packs
small inputs), because at 10^12-row scale a per-input-file output
layout drowns the table in tiny objects.  Our runner has the same
shape: every unit writes `routed/unit=<id>/sink_id=*/…`, so 100k
input units × 8 sinks ⇒ ~a million small parquet files — the classic
log-pipeline small-files problem.

`compact_routed` folds committed units into one `unit=pack-<gen>`
directory of ~`target_bytes` files per sink.  The protocol is
manifest-gated, mirroring the runner's own commit-log discipline
(pipeline/lineage.py), so a kill at ANY point leaves `read_routed`
consistent — never double-counted, never short:

1. packs are written to a dot-prefixed staging dir (hidden from every
   Spark directory listing),
2. row counts are verified against the absorbed units from parquet
   footers alone,
3. the staging dir is renamed to `unit=pack-<gen>` — still an ORPHAN:
   `read_routed` ignores pack dirs no manifest mentions,
4. the generation manifest (`compaction/gen-<k>.json`) is written via
   tmp + atomic rename — the commit point: from here readers use the
   pack and skip every absorbed unit dir, present or not,
5. absorbed unit dirs are deleted best-effort (pure cleanup — step 4
   already made them invisible).

Resume interplay: the lineage log keys units by INPUT identity, so a
resumed `run_pipeline` still skips absorbed (committed) units and new
units land beside the packs.  Compaction never changes a manifest, so
the aggregates and the merged sketch, both summed from the manifests'
partials, stay valid.

Packs can be re-absorbed by later generations (`pack-1` is a normal
absorbable unit to `gen-2`), so repeated compaction converges to a
bounded file count no matter how many increments arrived.
"""
from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import ROUTED_SUBDIR, LineageLog, written_file_rows
from .route import write_routed

COMPACTION_SUBDIR = "compaction"


def _manifests(out_dir: str) -> list[dict]:
    d = os.path.join(out_dir, COMPACTION_SUBDIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in sorted(os.listdir(d)):
        if f.startswith("gen-") and f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
    return out


def compaction_view(out_dir: str) -> tuple[set, set]:
    """(absorbed unit ids, committed pack ids) across all generations."""
    absorbed: set[str] = set()
    packs: set[str] = set()
    for m in _manifests(out_dir):
        absorbed |= set(m["absorbed"])
        packs.add(m["pack"])
    return absorbed, packs


def routed_dirs(out_dir: str) -> list[str]:
    """The unit directories a consistent read must include: every
    non-absorbed unit plus every manifest-committed pack (orphan pack
    dirs from a pre-commit crash are skipped; a later compaction
    garbage-collects them)."""
    routed = os.path.join(out_dir, ROUTED_SUBDIR)
    absorbed, packs = compaction_view(out_dir)
    dirs = []
    for d in sorted(os.listdir(routed)) if os.path.isdir(routed) else []:
        if not d.startswith("unit="):
            continue
        uid = d[len("unit="):]
        if uid in absorbed:
            continue
        if uid.startswith("pack-") and uid not in packs:
            continue  # orphan staging leftover — not yet committed
        dirs.append(os.path.join(routed, d))
    return dirs


def read_routed_consistent(spark: SparkSession, out_dir: str) -> DataFrame:
    """Manifest-gated read of the routed table (packs + live units)."""
    routed = os.path.join(out_dir, ROUTED_SUBDIR)
    dirs = routed_dirs(out_dir)
    if not dirs:
        return spark.read.parquet(routed)  # empty/uncompacted fallback
    return spark.read.option("basePath", routed).parquet(*dirs)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_routed(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int = 256 << 20,
    small_bytes: int | None = None,
    cleanup: bool = True,
) -> dict:
    """Fold small committed units (and prior packs) into one new
    size-targeted pack generation.  Returns a stats dict; a no-op when
    fewer than two absorbable directories exist."""
    routed = os.path.join(out_dir, ROUTED_SUBDIR)
    log = LineageLog(out_dir)
    committed = log.committed_units()
    manifests = _manifests(out_dir)  # read once; view derives from it
    absorbed = set().union(*(set(m["absorbed"]) for m in manifests)) \
        if manifests else set()
    packs = {m["pack"] for m in manifests}
    if small_bytes is None:
        small_bytes = target_bytes // 2

    # GC: (a) staging dirs and orphan packs from a crash before the
    # manifest commit; (b) absorbed unit dirs orphaned by a crash
    # during (or a skipped) post-commit cleanup — invisible to
    # read_routed but an unbounded disk leak otherwise
    for d in list(os.listdir(routed)) if os.path.isdir(routed) else []:
        uid = d[len("unit="):] if d.startswith("unit=") else None
        full = os.path.join(routed, d)
        if d.startswith(".staging-"):
            shutil.rmtree(full, ignore_errors=True)
        elif uid and uid.startswith("pack-") and uid not in packs:
            shutil.rmtree(full, ignore_errors=True)
        elif uid and uid in absorbed:
            shutil.rmtree(full, ignore_errors=True)

    # candidates: live dirs that are committed units or committed packs
    candidates = []
    for path in routed_dirs(out_dir):
        uid = os.path.basename(path)[len("unit="):]
        if uid in committed or uid in packs:
            size = _dir_bytes(path)
            if size < small_bytes:
                candidates.append((uid, path, size))
    if len(candidates) < 2:
        return {"gen": None, "absorbed": 0, "reason": "nothing to compact"}

    gen = 1 + max([m["gen"] for m in manifests] or [0])
    pack_id = f"pack-{gen}"
    staging = os.path.join(routed, f".staging-gen-{gen}")
    shutil.rmtree(staging, ignore_errors=True)

    absorb_dirs = [p for _u, p, _s in candidates]
    total_bytes = sum(s for _u, _p, s in candidates)

    # file sizing must be PER SINK: the writer splits every shuffle
    # partition by sink, so a single global file budget would emit up
    # to budget x n_sinks under-sized files.  Salt each sink by its
    # own ceil(bytes/target) so distinct (sink, salt) combos — and
    # therefore output files — track the per-sink byte volume.
    per_sink_bytes: dict[str, int] = {}
    for p in absorb_dirs:
        for root, _dirs, files in os.walk(p):
            part = os.path.basename(root)
            if not part.startswith("sink_id="):
                continue
            sink = part[len("sink_id="):]
            per_sink_bytes[sink] = per_sink_bytes.get(sink, 0) + sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.endswith(".parquet"))
    sink_files = {s: max(1, -(-b // target_bytes))
                  for s, b in per_sink_bytes.items()}
    n_files = max(1, sum(sink_files.values()))
    salt_map = F.create_map(*[
        x for s, n in sink_files.items() for x in (F.lit(s), F.lit(int(n)))
    ])
    salt = F.pmod(F.spark_partition_id(),
                  F.coalesce(salt_map[F.col("sink_id")], F.lit(1)))

    df = (
        # mergeSchema: units written across code versions may disagree
        # on columns; a subset-footer schema would silently drop data
        spark.read.option("basePath", routed)
        .option("mergeSchema", "true").parquet(*absorb_dirs)
        .drop("unit")  # the pack dir name supplies the unit column
        .repartition(int(n_files), F.col("sink_id"), salt)
    )
    write_routed(df, staging)

    # verify from footers only: staged rows == absorbed rows
    staged_per_sink, _ = written_file_rows(staging)
    want_per_sink: dict[str, int] = {}
    for p in absorb_dirs:
        got, _ = written_file_rows(p)
        for k, v in got.items():
            want_per_sink[k] = want_per_sink.get(k, 0) + v
    if staged_per_sink != want_per_sink:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compact_routed: staged counts {staged_per_sink} != "
            f"absorbed counts {want_per_sink}; aborted (nothing changed)")

    # expose the pack (still an orphan to readers) …
    pack_dir = os.path.join(routed, f"unit={pack_id}")
    os.rename(staging, pack_dir)

    # … then commit: atomic manifest rename is the point of no return
    comp_dir = os.path.join(out_dir, COMPACTION_SUBDIR)
    os.makedirs(comp_dir, exist_ok=True)
    manifest = {
        "gen": gen,
        "pack": pack_id,
        "absorbed": sorted(u for u, _p, _s in candidates),
        "rows": sum(want_per_sink.values()),
        "per_sink": want_per_sink,
        "input_bytes": total_bytes,
        "target_bytes": target_bytes,
        "files": sum(
            1 for _r, _d, fs in os.walk(pack_dir)
            for f in fs if f.endswith(".parquet")),
    }
    tmp = os.path.join(comp_dir, f".gen-{gen}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(comp_dir, f"gen-{gen}.json"))

    if cleanup:  # pure hygiene — the manifest already hides these
        for _uid, path, _s in candidates:
            shutil.rmtree(path, ignore_errors=True)

    return {"gen": gen, "pack": pack_id,
            "absorbed": len(candidates), "rows": manifest["rows"],
            "files": manifest["files"]}
