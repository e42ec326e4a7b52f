"""Stored-artifact consistency checker (fsck) — the operational
complement to the artifact families' crash-window designs.

Every stored index in this engine (MinHash dedup, inverted text, IVF
ANN, perceptual phash, the passage table, the n-gram LM) and the
month-partitioned warehouse table commits
through some mix of staged whole-tree swaps, batch-dir overwrites,
atomic manifest flips and tombstone tables.  Each crash window is
individually consistent BY DESIGN (the readers tolerate or repair it),
but an operator staring at a directory tree after a bad night has no
way to tell "benign crash residue the next job will clean" from "this
artifact needs the documented one-line repair before anything reads
it".  ``fsck_artifact`` is that tool: a READ-ONLY walk of one artifact
dir that classifies what it finds against the documented invariants
and names the exact repair for anything actionable.  It never mutates
the artifact — repairs stay explicit, in the operator's hands, exactly
as the loud-refusal readers (``lsh_index._require_batched``,
``ivf_index.read_manifest``) demand.

Finding levels:

- ``error`` — readers will refuse or answer wrong until the named
  repair runs (mid-swap crash with the root missing, a dangling IVF
  ``data_version`` pointer, bucket-constant drift, a mixed
  bucketed/flat partition tree);
- ``warn`` — works today but carries a documented liability (legacy
  layouts awaiting migration, orphan ``__stage``/``__old`` trees
  holding disk, a manifest missing where defaults apply);
- ``info`` — normal operational state worth surfacing (pending
  tombstones awaiting compaction, retired IVF versions awaiting
  cleanup, a sink-owned writer stamp).

Family detection is by manifest file (falling back to directory
shape), so ``fsck_artifact`` takes any artifact dir and
``fsck_report`` maps a list of them into one DataFrame for a fleet
sweep.  Cost: directory walks plus at most one tombstone-table read
per artifact — never a data scan, so it is safe to run against a
100 TB artifact from a laptop.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LEVELS = ("error", "warn", "info", "ok")


def _f(level, code, path, message, repair=""):
    assert level in _LEVELS
    return {
        "level": level,
        "code": code,
        "path": path,
        "message": message,
        "repair": repair,
    }


def _swap_checks(root: str, out: list) -> None:
    """The two ``_swap_tree`` crash shapes, for any staged table."""
    stage, old = root + "__stage", root + "__old"
    if not os.path.isdir(root):
        for sib, hint in ((old, "rename it back over the missing root"),
                          (stage, "rename the staged rewrite into place")):
            if os.path.isdir(sib):
                out.append(_f(
                    "error", "mid_swap_crash", sib,
                    f"{os.path.basename(root)} root is absent but a "
                    f"staged/old copy exists — a compaction crashed "
                    f"between its two renames; the data is intact",
                    f"{hint} (do NOT rebuild)",
                ))
        return
    for sib, which in ((stage, "__stage"), (old, "__old")):
        if os.path.isdir(sib):
            out.append(_f(
                "warn", "orphan_stage_tree", sib,
                f"a {which} sibling survives next to a live "
                f"{os.path.basename(root)} root — crash residue from an "
                "interrupted compaction; the live root is authoritative",
                "re-run the compaction (it restages from scratch) or "
                "delete the sibling after confirming the live root answers",
            ))


def _batch_dirs(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("batch=") and os.path.isdir(os.path.join(root, d))
    )


def _read_json(path: str):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _ownership_info(meta: dict, artifact_dir: str, out: list) -> None:
    ck = (meta or {}).get("epoch_checkpoint")
    if ck:
        out.append(_f(
            "info", "sink_owned", artifact_dir,
            f"single-writer stamp present (checkpoint {ck!r}) — manual "
            "folds without that checkpoint will refuse",
            "pass the sink's checkpoint to act on its behalf",
        ))


# ------------------------------------------------------------------ #
# MinHash LSH index                                                  #
# ------------------------------------------------------------------ #


def _fsck_minhash(spark: SparkSession, d: str) -> list:
    from . import lsh_index as L

    out: list = []
    bands, sh, tomb = L._bands_root(d), L._sh_root(d), L._tomb_path(d)
    _swap_checks(bands, out)
    _swap_checks(sh, out)
    meta = _read_json(os.path.join(d, L._LSH_MANIFEST))
    if meta is None and os.path.isdir(bands):
        out.append(_f(
            "warn", "manifest_missing", d,
            "no LSH manifest — readers fall back to the module defaults "
            "(n=3, k, band, md5), which IS the true geometry only for "
            "pre-manifest artifacts",
            "re-pin by running any update (it rewrites the manifest) if "
            "the defaults are correct; rebuild otherwise",
        ))
    if os.path.isdir(bands) and L._is_legacy_layout(d):
        out.append(_f(
            "error", "legacy_layout", bands,
            "pre-lineage flat layout — every reader refuses loudly",
            "run migrate_minhash_index_layout (pure renames, no rewrite)",
        ))
        return out
    # mixed bucketed/flat batch dirs inside one table break partition
    # discovery for every reader — the invariant the dir-probing
    # writers exist to hold
    for root, leaf in ((bands, "kbucket="), (sh, "dbucket=")):
        shapes = set()
        for b in _batch_dirs(root):
            walk_dirs = [b]
            if root is bands:
                walk_dirs = [
                    os.path.join(b, x)
                    for x in os.listdir(b)
                    if x.startswith("band_id=")
                ] or [b]
            shaped = None
            for wd in walk_dirs:
                for e in os.listdir(wd):
                    if e.startswith(leaf):
                        shaped = "bucketed"
                        break
                    if e.endswith(".parquet"):
                        shaped = "flat"
                        break
                if shaped:
                    break
            if shaped:
                shapes.add(shaped)
        if len(shapes) > 1:
            out.append(_f(
                "error", "mixed_bucket_layout", root,
                "some batch dirs are key-bucketed and some flat under one "
                "read root — partition discovery will fail for every reader",
                "run compact_minhash_index (rewrites the whole tree under "
                "one shape)",
            ))
    # bucket-grid provenance: the manifest is authoritative for reads
    # (round 11) — a non-default grid is a legitimate deployment state,
    # but worth surfacing because sessions pinning a different grid via
    # the spark.cdcAnalytics.lsh.* confs will refuse this artifact
    if meta:
        for name, default in (
            ("kbuckets", L.LSH_KBUCKETS),
            ("dbuckets", L.LSH_DBUCKETS),
        ):
            pinned = meta.get(name)
            if pinned is not None and int(pinned) != default:
                out.append(_f(
                    "info", "nondefault_bucket_grid", d,
                    f"manifest pins {name}={pinned} (module default "
                    f"{default}) — reads follow the manifest; a session "
                    f"conf pinning a different {name} refuses until "
                    "recompacted",
                    "none needed; run compact_minhash_index under the "
                    "session conf to migrate the grid",
                ))
    if (
        L._bands_layout(d) == "bucketed"
        and (meta is None or meta.get("kbuckets") is None)
    ):
        out.append(_f(
            "warn", "unannotated_bucketed", d,
            "bucketed tree without manifest bucket counts (a build crashed "
            "before its manifest write, or an artifact copied from a "
            "deployment with an unknown grid) — the modulus its dirs were "
            "written with is unknowable, so pruned lookups are DISABLED "
            "(full scans, correct but slow) until a compaction rewrites "
            "and stamps the tree; verify provenance before trusting it",
            "run compact_minhash_index (re-buckets the whole tree and "
            "stamps the grid)",
        ))
    if os.path.isdir(tomb):
        live = list(L.live_batch_ids(d))
        # count Spark-side, collect two scalars: driver memory must stay
        # O(1) even when takedown churn has accumulated a huge tombstone
        # table (the module's safe-from-a-laptop promise)
        is_live = F.col("batch").isin(live) if live else F.lit(False)
        counts = (
            spark.read.parquet(tomb)
            .agg(
                F.count(F.when(is_live, 1)).alias("pending"),
                F.count(F.when(~is_live, 1)).alias("inert"),
            )
            .collect()[0]
        )
        pending, inert = counts["pending"], counts["inert"]
        if pending:
            out.append(_f(
                "info", "pending_tombstones", tomb,
                f"{pending} tombstone rows await physical purge",
                "compact_minhash_index purges and retires them",
            ))
        if inert:
            out.append(_f(
                "info", "inert_tombstones", tomb,
                f"{inert} tombstone rows reference batches that no longer "
                "exist (compaction-crash residue) — readers treat them as "
                "inert by construction",
                "the next compaction clears the table",
            ))
    _ownership_info(meta or {}, d, out)
    return out


# ------------------------------------------------------------------ #
# inverted text index                                                 #
# ------------------------------------------------------------------ #


def _fsck_text(spark: SparkSession, d: str) -> list:
    from . import retrieval as R

    out: list = []
    postings, lengths = f"{d}/postings", f"{d}/lengths"
    _swap_checks(postings, out)
    _swap_checks(lengths, out)
    meta = _read_json(f"{d}/{R._TIX_MANIFEST}")
    if meta is None and os.path.isdir(postings):
        out.append(_f(
            "error", "manifest_missing", d,
            "postings exist but the text-index manifest is gone — BM25 "
            "needs its additive corpus stats; readers refuse",
            "rebuild the index (stats cannot be recovered without a "
            "corpus rescan)",
        ))
    if meta is not None and not meta.get("positions", False):
        out.append(_f(
            "warn", "non_positional_postings", d,
            "pre-positional postings — phrase search refuses on this "
            "artifact (BM25 keeps working)",
            "rebuild or compact to the positional schema",
        ))
    tomb = f"{d}/tombstones"
    if os.path.isdir(tomb):
        n = spark.read.parquet(tomb).count()
        if n:
            out.append(_f(
                "info", "pending_tombstones", tomb,
                f"{n} tombstone rows await physical purge",
                "compact_text_index purges and retires them",
            ))
    _ownership_info(meta or {}, d, out)
    return out


# ------------------------------------------------------------------ #
# IVF ANN index                                                       #
# ------------------------------------------------------------------ #


def _fsck_ivf(spark: SparkSession, d: str) -> list:
    from . import ivf_index as I

    out: list = []
    meta = _read_json(os.path.join(d, I._MANIFEST))
    if meta is None:
        out.append(_f(
            "error", "manifest_missing", d,
            "no IVF manifest — the index is unreadable (geometry, hash "
            "mode and the data_version pointer all live there)",
            "rebuild, or restore the manifest from backup",
        ))
        return out
    v = meta.get("data_version")
    root = d if v is None else os.path.join(d, f"v{v}")
    if not os.path.isdir(os.path.join(root, "assignments")):
        out.append(_f(
            "error", "dangling_version_pointer", root,
            f"manifest points at data_version={v!r} but that tree has no "
            "assignments — every reader resolves through the pointer and "
            "will fail",
            "point data_version back at the last complete v<N>/ tree (or "
            "refit_ivf_index to build a fresh one)",
        ))
    for e in sorted(os.listdir(d)):
        full = os.path.join(d, e)
        if (
            e.startswith("v")
            and e[1:].isdigit()
            and os.path.isdir(full)
            and full != root
        ):
            out.append(_f(
                "info", "retired_version_pending", full,
                "a non-current version tree survives (kept one refit for "
                "in-flight readers)",
                "the next refit retires it",
            ))
    tomb = os.path.join(root, "tombstones")
    if os.path.isdir(tomb):
        n = spark.read.parquet(tomb).count()
        if n:
            out.append(_f(
                "info", "pending_tombstones", tomb,
                f"{n} tombstone rows await physical purge",
                "compact_ivf_index purges and retires them",
            ))
    _ownership_info(meta, d, out)
    return out


# ------------------------------------------------------------------ #
# perceptual-hash index                                                #
# ------------------------------------------------------------------ #


def _fsck_phash(spark: SparkSession, d: str) -> list:
    from . import phash_index as P

    out: list = []
    fp = os.path.join(d, P.FP_TABLE)
    _swap_checks(fp, out)
    meta = _read_json(os.path.join(d, P._PHASH_MANIFEST))
    if os.path.isdir(fp):
        flat = any(
            e.endswith(".parquet") for e in os.listdir(fp)
        )
        if flat:
            out.append(_f(
                "error", "legacy_layout", fp,
                "pre-lineage flat fingerprint table — readers refuse",
                "rebuild the index (fingerprints are derived data; the "
                "documented phash migration is a rebuild)",
            ))
    if meta is None and os.path.isdir(fp):
        out.append(_f(
            "warn", "manifest_missing", d,
            "fingerprints exist without a phash manifest",
            "any update re-stamps it; rebuild if the geometry is unknown",
        ))
    _ownership_info(meta or {}, d, out)
    return out


# ------------------------------------------------------------------ #
# ingest-sink corpus (batch_group dirs + epoch-scoped staging)         #
# ------------------------------------------------------------------ #


def _fsck_ingest_corpus(spark: SparkSession, d: str) -> list:
    """The document/media ingest sinks' corpus layout: ``batch_group=``
    dirs committed through epoch-scoped staging copies in the sibling
    ``_meta`` dir.  Every staging residue shape is classified against
    the ``_staged_group_rewrite`` protocol."""
    out: list = []
    meta_dir = d + "_meta"
    groups = {
        e
        for e in (os.listdir(d) if os.path.isdir(d) else [])
        if e.startswith("batch_group=") and os.path.isdir(os.path.join(d, e))
    }
    if os.path.isdir(meta_dir):
        layout = _read_json(os.path.join(meta_dir, "_SINK_LAYOUT.json"))
        if layout is None and os.path.isfile(
            os.path.join(meta_dir, "_SINK_LAYOUT.json")
        ):
            out.append(_f(
                "warn", "layout_unparseable", meta_dir,
                "_SINK_LAYOUT.json exists but does not parse — unified "
                "takedown (delete_documents/delete_assets) cannot fan out",
                "the next sink epoch rewrites it; or restore it by hand "
                "from the sink's constructor arguments",
            ))
        for e in sorted(os.listdir(meta_dir)):
            if "_staging_e" not in e:
                continue
            staging = os.path.join(meta_dir, e)
            if not os.path.isdir(staging):
                continue
            complete = os.path.isfile(os.path.join(staging, "_SUCCESS"))
            # two staging name forms: the merge path writes
            # _group<G>_staging_e<E>, the CDC removal path writes
            # _cdc_batch_group=<G>_staging_e<E> — both target
            # batch_group=<G>
            base = e.split("_staging_e", 1)[0]
            if base.startswith("_cdc_"):
                gname = base[len("_cdc_"):]
            elif base.startswith("_group"):
                gname = "batch_group=" + base[len("_group"):]
            else:
                continue
            gdir = os.path.join(d, gname)
            live = os.path.isdir(gdir) and any(
                f.endswith(".parquet") for f in os.listdir(gdir)
            )
            if complete and not live:
                out.append(_f(
                    "warn", "unrecovered_group_overwrite", staging,
                    f"a COMPLETED staged copy exists but its live group "
                    f"dir ({gname}) is missing/empty — a crash landed in "
                    "the overwrite window; readers miss these rows until "
                    "the epoch replays",
                    "restart the sink (the replayed epoch re-commits the "
                    "staged copy); if the sink is retired, copy the staged "
                    "tree over the group dir by hand",
                ))
            elif complete:
                out.append(_f(
                    "info", "staged_copy_retained", staging,
                    "a completed staged copy survives next to an intact "
                    "live group dir (crash between re-commit and cleanup) "
                    "— the replay re-commits identical bytes",
                    "safe to delete after confirming the live dir answers",
                ))
            else:
                out.append(_f(
                    "info", "incomplete_staging_residue", staging,
                    "an incomplete staging dir (no _SUCCESS) — the live "
                    "group dir is intact and authoritative; writers "
                    "recompute staging from scratch",
                    "safe to delete",
                ))
    if not groups and not os.path.isdir(meta_dir):
        out.append(_f(
            "warn", "empty_corpus", d,
            "no batch_group dirs and no meta dir — nothing ingested yet "
            "or the wrong path",
            "",
        ))
    return out


# ------------------------------------------------------------------ #
# warehouse table (event_month dirs + rename-committed rewrites)       #
# ------------------------------------------------------------------ #


def _fsck_warehouse(spark: SparkSession, d: str) -> list:
    """The month-partitioned warehouse table written by
    ``merge_upsert_parquet`` / ``compact_warehouse`` / ``apply_ttl``:
    every rewrite leftover ``storage.pending_swaps`` finds — the same
    detection the writers run before they read the table."""
    from .. import storage

    out: list = []
    for p in storage.pending_swaps(d):
        for live, staged in p.missing:
            out.append(_f(
                "error", "interrupted_month_swap", live,
                f"{os.path.basename(live)} is absent: a rewrite stopped "
                "between the month's two renames; readers see the table "
                f"without it, and its staged copy waits at {staged}",
                f"rename {staged} to {live}, then delete the parked copy "
                "(or run any write to the table: it finishes the swap "
                "before reading; do NOT rebuild)",
            ))
        for parked in p.parked:
            out.append(_f(
                "warn", "leftover_parked_copy", parked,
                "a parked pre-rewrite copy survives next to its live "
                "replacement — the live one is authoritative",
                "delete it (the next write to the table does)",
            ))
        if p.stage is not None and not p.missing:
            out.append(_f(
                "warn", "leftover_staged_copy", p.stage,
                (
                    "a committed rewrite's stage is still on disk: the "
                    "months left in it are not swapped in yet, so the "
                    "table mixes old and new months"
                    if p.complete else
                    "an uncommitted rewrite (no _SUCCESS); the live table "
                    "is intact and authoritative"
                ),
                (
                    "run any write to the table (it rolls the swap forward)"
                    if p.complete else
                    "delete it (the next write to the table does)"
                ),
            ))
    return out


# ------------------------------------------------------------------ #
# entry points                                                         #
# ------------------------------------------------------------------ #

_FAMILIES = (
    ("_lsh_manifest.json", "minhash", _fsck_minhash, ("bands",)),
    ("_text_index_manifest.json", "text", _fsck_text, ("postings",)),
    ("_ivf_manifest.json", "ivf", _fsck_ivf, ()),
    ("_phash_manifest.json", "phash", _fsck_phash, ("fingerprints",)),
)


def detect_family(artifact_dir: str) -> str | None:
    """Family by manifest file, else by directory shape (a crash can
    strand an artifact without its manifest — exactly when fsck is
    most useful)."""
    for manifest, name, _fn, shapes in _FAMILIES:
        if os.path.isfile(os.path.join(artifact_dir, manifest)):
            return name
    for _manifest, name, _fn, shapes in _FAMILIES:
        if any(os.path.isdir(os.path.join(artifact_dir, s)) for s in shapes):
            return name
    if os.path.isdir(artifact_dir) and (
        any(e.startswith("batch_group=") for e in os.listdir(artifact_dir))
        or os.path.isdir(artifact_dir + "_meta")
    ):
        return "ingest_corpus"
    if _is_warehouse(artifact_dir):
        return "warehouse"
    return None


def _is_warehouse(d: str) -> bool:
    """``event_month=`` dirs, live or held by a rewrite stage (a crash
    can leave a one-month table with its only month parked)."""
    from .. import storage

    month = "event_month="
    if any(e.startswith(month) for e in os.listdir(d)):
        return True
    return any(
        os.path.basename(live).startswith(month)
        for p in storage.pending_swaps(d)
        for live, _ in p.missing
    )


def fsck_artifact(spark: SparkSession, artifact_dir: str) -> list[dict]:
    """READ-ONLY consistency findings for one artifact dir (module
    docstring).  Returns a list of finding dicts, worst level first; a
    healthy artifact returns a single ``ok`` row so a fleet sweep
    positively confirms coverage instead of silently skipping."""
    artifact_dir = os.path.abspath(artifact_dir)
    if not os.path.isdir(artifact_dir):
        return [_f("error", "missing_artifact", artifact_dir,
                   "directory does not exist", "")]
    fam = detect_family(artifact_dir)
    if fam is None:
        return [_f("warn", "unknown_family", artifact_dir,
                   "no known artifact manifest or table shape here", "")]
    if fam == "ingest_corpus":
        fn = _fsck_ingest_corpus
    elif fam == "warehouse":
        fn = _fsck_warehouse
    else:
        fn = next(f for _m, n, f, _s in _FAMILIES if n == fam)
    findings = fn(spark, artifact_dir)
    rank = {lv: i for i, lv in enumerate(_LEVELS)}
    findings.sort(key=lambda x: rank[x["level"]])
    if not any(x["level"] in ("error", "warn") for x in findings):
        findings.insert(0, _f("ok", "healthy", artifact_dir,
                              f"{fam} artifact passes every invariant check", ""))
    for x in findings:
        x["family"] = fam
        x["artifact"] = artifact_dir
    return findings


def fsck_report(spark: SparkSession, artifact_dirs) -> DataFrame:
    """One DataFrame over many artifacts — the fleet-sweep form."""
    rows = []
    for d in artifact_dirs:
        rows.extend(fsck_artifact(spark, d))
    return spark.createDataFrame(
        [
            (
                r["artifact"], r.get("family", ""), r["level"], r["code"],
                r["path"], r["message"], r["repair"],
            )
            for r in rows
        ],
        "artifact string, family string, level string, code string, "
        "path string, message string, repair string",
    )
