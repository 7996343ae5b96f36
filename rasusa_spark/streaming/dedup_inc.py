"""O(delta) incremental minhash-LSH dedup (VERDICT r4 Next #8).

A 100-TB crawl pipeline cannot re-run corpus-wide LSH on every arrival:
the batch pass (operators/dedup.py:minhash_lsh_pairs) is O(corpus) per
invocation. This module maintains a PERSISTED signature/band store and
folds each new batch of document files in O(delta):

- signatures are built for the NEW docs only (one corpus-wide scan per
  doc lifetime, never again);
- candidate pairs involving >=1 new doc come from two band joins —
  new x new, and new x stored where the stored side is read with real
  partition pruning: the band store is laid out as
  ``bands/txn=<id>/shard=<pmod(bucket, n_shards)>/`` and the probe reads
  only the shards the delta's buckets land in (``PushedFilters`` on the
  shard partition column; at 100 TB the store is additionally bucketed by
  (band, bucket) for a shuffle-free sort-merge probe);
- pairs are verified by signature agreement (the same
  ``signature_agreement`` expression the batch path uses) and appended;
  the signature store is itself shard-partitioned
  (``sigs/txn=<id>/sig_shard=<pmod(hash(id), n_shards)>/``) so the
  verification joins read only the shards the increment's candidate ids
  land in — O(delta), not O(corpus), in I/O (VERDICT r5 Next #3).

Exactness (the kill-resume pytest contract): signatures are a
deterministic function of (seed, text) — never partition layout — and
banding/verification reuse the batch path's expressions verbatim
(operators/dedup.py:signature_bands / signature_agreement). Every
unordered pair {a, b} is discovered in exactly ONE increment (the one
that introduces the later-arriving doc), so after any split of the input
across any number of runs, the union of emitted pairs is bit-equal to
``minhash_lsh_pairs`` over the whole corpus (tests/test_streaming.py).

Crash safety is the tier merges' roll-forward transaction (txn.py,
ADVICE r4): sigs and bands are staged in the store's shard layout (one
file per shard) and pairs beside them, the file-list intent commits
them, and a replayable promote renames each onto ``<tree>/txn=<id>``
(the id hashes the file list) and unions the manifest.
``recover_pending_dedup`` rolls a committed transaction forward from any
kill point or clears a pre-intent crash's scratch; compaction is the
same transaction over the folded txn ids.

Store geometry (n_perm, n_bands, shingle_n, seed, threshold, one_perm,
n_shards) is pinned in a driver-written config row on first merge; a
later merge with different geometry raises instead of silently mixing
incomparable signatures (same contract as the CMS sketch geometry carry).

Reference parity note: the reference engine has no incremental dedup —
this is part of the training-data-pipeline surface the build adds; the
resumable-commit posture mirrors its @PG lineage chain
(src/alignment.rs:214-238 in spirit: every output records how it was
produced and reprocessing is refused, not repeated).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rasusa_spark.operators.dedup import (
    minhash_signatures,
    minhash_signatures_oph,
    signature_agreement,
    signature_bands,
)
from rasusa_spark.streaming import txn

_STORE = "minhash_store"

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)

_CONFIG_SCHEMA = pa.schema(
    [
        ("n_perm", pa.int32()),
        ("n_bands", pa.int32()),
        ("shingle_n", pa.int32()),
        ("seed", pa.int32()),
        ("threshold", pa.float64()),
        ("one_perm", pa.bool_()),
        ("n_shards", pa.int32()),
        # pins the id type too — a type change is a mismatch
        ("pairs_schema", pa.string()),
    ]
)


def _paths(state_path: str) -> dict[str, str]:
    root = os.path.join(state_path, _STORE)
    return {
        "root": root,
        "sigs": os.path.join(root, "sigs"),
        "bands": os.path.join(root, "bands"),
        "pairs": os.path.join(root, "pairs"),
        "config": os.path.join(root, "config"),
        "manifest": os.path.join(state_path, "minhash_files"),
        "staging_sigs": os.path.join(state_path, "minhash_txn_sigs"),
        "staging_bands": os.path.join(state_path, "minhash_txn_bands"),
        "staging_pairs": os.path.join(state_path, "minhash_txn_pairs"),
        "intent": os.path.join(state_path, "minhash_txn_intent"),
        "compact_staging_sigs": os.path.join(
            state_path, "minhash_compact_sigs"
        ),
        "compact_staging_bands": os.path.join(
            state_path, "minhash_compact_bands"
        ),
        "compact_intent": os.path.join(state_path, "minhash_compact_intent"),
    }


def _sig_shard_expr(id_col_expr, n_shards: int):
    """Shard assignment for the signature store: pmod of the engine hash
    works for ANY id type (long or string) — a store-internal layout key,
    never a cross-engine contract."""
    return F.pmod(F.hash(id_col_expr), F.lit(n_shards)).cast("int")


def _read_tree(spark: SparkSession, tree: str, schema) -> DataFrame | None:
    """A ``<tree>/txn=*/<shard>=*`` store tree read with the schema of the
    delta it was staged from (no schema-inference job), or None before
    its first transaction."""
    if not txn.exists(spark, tree):
        return None
    return spark.read.schema(schema).parquet(tree)


def _txn_cleanup_dedup(spark: SparkSession, state_path: str) -> None:
    p = _paths(state_path)
    txn.delete(
        spark, p["intent"], p["staging_sigs"], p["staging_bands"], p["staging_pairs"]
    )


def _txn_promote_dedup(spark: SparkSession, state_path: str) -> None:
    """Apply a PREPARED dedup transaction. Idempotent end to end: each
    staged dataset moves onto its own ``txn=<id>`` subdirectory (a replay
    skips the moves already done), the manifest update is a set union,
    and cleanup deletes the intent first (the commit point — recovery
    replays only while it exists)."""
    p = _paths(state_path)
    files = txn.intent_keys(
        spark, p["intent"], p["staging_sigs"], p["staging_bands"], p["staging_pairs"]
    )
    target = f"txn={txn.txn_id(files)}"
    for k in ("sigs", "bands", "pairs"):
        txn.move(spark, p[f"staging_{k}"], os.path.join(p[k], target))
    txn.union_manifest(spark, p["manifest"], files)
    _txn_cleanup_dedup(spark, state_path)


def recover_pending_dedup(spark: SparkSession, state_path: str) -> bool:
    """Repair an interrupted dedup merge: a committed intent (with
    _SUCCESS) rolls FORWARD via the idempotent promote; anything else is
    pre-intent scratch — delete it, the store/manifest pair is untouched
    and the interrupted files re-apply from the input on the next merge.
    Callers must run this before reading the manifest (the flow wrapper
    and ``merge_minhash_increment`` itself both do)."""
    p = _paths(state_path)
    return txn.recover(
        spark, p["intent"], _txn_promote_dedup, _txn_cleanup_dedup, state_path
    )


def _compact_cleanup_dedup(spark: SparkSession, state_path: str) -> None:
    p = _paths(state_path)
    txn.delete(
        spark,
        p["compact_intent"],
        p["compact_staging_bands"],
        p["compact_staging_sigs"],
    )


def _compact_promote_dedup(spark: SparkSession, state_path: str) -> None:
    """Replayable compaction promote (bands + sigs together): move each
    consolidated dataset onto its ``txn=c-<id>`` directory, delete the
    folded txn dirs, then the intent (commit point) and scratch."""
    p = _paths(state_path)
    folded = txn.intent_keys(
        spark,
        p["compact_intent"],
        p["compact_staging_bands"],
        p["compact_staging_sigs"],
        key="txn",
    )
    target = f"txn=c-{txn.txn_id(folded)}"
    txn.move(spark, p["compact_staging_bands"], os.path.join(p["bands"], target))
    txn.move(spark, p["compact_staging_sigs"], os.path.join(p["sigs"], target))
    for t in folded:
        txn.delete(
            spark,
            os.path.join(p["bands"], f"txn={t}"),
            os.path.join(p["sigs"], f"txn={t}"),
        )
    _compact_cleanup_dedup(spark, state_path)


def recover_pending_dedup_compaction(
    spark: SparkSession, state_path: str
) -> bool:
    """Roll a prepared dedup-store compaction forward, or clear pre-intent
    scratch. Run before any merge/compact — a half-promoted compaction
    leaves duplicate band/sig rows until replayed."""
    p = _paths(state_path)
    return txn.recover(
        spark, p["compact_intent"], _compact_promote_dedup,
        _compact_cleanup_dedup, state_path,
    )


def compact_minhash_store(spark: SparkSession, state_path: str) -> dict:
    """Fold all committed ``bands/txn=*/shard=*`` and
    ``sigs/txn=*/sig_shard=*`` directories into ONE consolidated txn each,
    one file per shard partition (VERDICT r5 Next #4): k increments
    accrete k files per probed shard, so probe cost grows with increment
    count; compaction restores file-count-proportional-to-bytes. Probe
    identity (identical candidate/verification inputs, hence identical
    pairs) is pinned by test; the pairs tree is append-only output and is
    NOT compacted here (no pruned reads depend on its layout). Crash
    safety: stage both datasets in the store layout → one intent
    (_SUCCESS = prepare commit) → replayable rename promote; only
    fully-committed ingest txns are folded. The ingest manifest is
    untouched."""
    from rasusa_spark.streaming.ann_inc import _list_txn_dirs

    recover_pending_dedup(spark, state_path)
    recover_pending_dedup_compaction(spark, state_path)
    p = _paths(state_path)

    txns = _list_txn_dirs(spark, p["bands"])
    if set(txns) != set(_list_txn_dirs(spark, p["sigs"])):
        raise ValueError(
            "bands/sigs txn sets differ — the store is mid-recovery; run "
            "recover_pending_dedup first"
        )
    before = txn.count_parquet_files(spark, p["bands"], p["sigs"])
    if len(txns) <= 1:
        return {"folded_txns": 0, "files_before": before, "files_after": before}

    for tree, shard in (("bands", "shard"), ("sigs", "sig_shard")):
        spark.read.option("basePath", p[tree]).parquet(p[tree]).drop(
            "txn"
        ).repartition(shard).write.mode("overwrite").partitionBy(shard).parquet(
            p[f"compact_staging_{tree}"]
        )
    txn.write_keys(spark, p["compact_intent"], txns, key="txn")
    _compact_promote_dedup(spark, state_path)
    return {
        "folded_txns": len(txns),
        "files_before": before,
        "files_after": txn.count_parquet_files(spark, p["bands"], p["sigs"]),
    }


def _check_config(spark: SparkSession, state_path: str, cfg: dict) -> None:
    p = _paths(state_path)
    stored = txn.read_table(spark, p["config"])
    if stored is None:
        txn.write_table(
            spark, p["config"], pa.Table.from_pylist([cfg], schema=_CONFIG_SCHEMA)
        )
        return
    row = stored.to_pylist()[0]
    mismatch = {
        k: (row[k], cfg[k]) for k in _CONFIG_SCHEMA.names if row[k] != cfg[k]
    }
    if mismatch:
        raise ValueError(
            f"minhash store geometry mismatch {mismatch}: signatures built "
            "with different (n_perm, n_bands, shingle_n, seed, threshold, "
            "one_perm, n_shards) are not comparable — use a fresh store"
        )


def minhash_pairs_store(spark: SparkSession, state_path: str) -> DataFrame:
    """All verified pairs emitted so far (union over increments). Reads
    with the schema pinned in the store config so a store whose every
    increment emitted zero pairs (only _SUCCESS markers on disk) still
    reads back as an empty, correctly-typed table."""
    p = _paths(state_path)
    cfg = txn.read_table(spark, p["config"])
    if cfg is None:
        return spark.createDataFrame([], PAIRS_SCHEMA)
    schema = T.StructType.fromDDL(cfg.column("pairs_schema")[0].as_py())
    if not txn.exists(spark, p["pairs"]):
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", p["pairs"])
        .parquet(p["pairs"])
        .select("id_a", "id_b", "est_jaccard")
    )


def merge_minhash_increment(
    spark: SparkSession,
    docs_delta: DataFrame,
    state_path: str,
    *,
    files: list[str],
    n_perm: int = 64,
    n_bands: int = 32,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    one_perm: bool = False,
    n_shards: int = 64,
) -> DataFrame:
    """Fold one batch of NEW document files into the persisted minhash
    store and return the updated pairs table. ``docs_delta`` must be the
    rows of exactly ``files`` (the flow wrapper reads unseen files and
    passes both), with doc ids globally unique across the corpus — the
    same at-most-once-per-doc contract the budget stream's checkpoint
    enforces upstream.

    Cost: one signature build over the DELTA (the only scan of the new
    text), two band joins whose stored side reads only the touched
    shards, and one signature-lookup join per candidate side. Nothing
    re-reads previously-ingested text, ever."""
    recover_pending_dedup(spark, state_path)
    recover_pending_dedup_compaction(spark, state_path)
    p = _paths(state_path)
    id_type = docs_delta.schema[id_col].dataType.simpleString()
    _check_config(
        spark,
        state_path,
        {
            "n_perm": n_perm,
            "n_bands": n_bands,
            "shingle_n": shingle_n,
            "seed": seed,
            "threshold": float(threshold),
            "one_perm": one_perm,
            "n_shards": n_shards,
            "pairs_schema": (
                f"id_a {id_type}, id_b {id_type}, est_jaccard double"
            ),
        },
    )

    dup = sorted(set(files) & txn.read_paths(spark, p["manifest"]))
    if dup:
        raise ValueError(
            f"{len(dup)} input file(s) already in the minhash manifest "
            f"(first: {dup[0]}) — stale file list; re-list after "
            "recover_pending_dedup"
        )

    build = minhash_signatures_oph if one_perm else minhash_signatures
    sigs_delta = build(
        docs_delta, n_perm, shingle_n, seed, text_col, id_col
    ).persist()
    bands_delta = signature_bands(sigs_delta, n_perm, n_bands, id_col).withColumn(
        "shard", F.pmod(F.col("bucket"), F.lit(n_shards)).cast("int")
    )
    bands_delta = bands_delta.persist()
    sigs_out = sigs_delta.select(id_col, "signature").withColumn(
        "sig_shard", _sig_shard_expr(F.col(id_col), n_shards)
    )

    # candidates involving >=1 new doc: new x new (canonical order inside
    # the delta) + new x stored (canonical order via least/greatest — the
    # stored doc may sort before OR after the new one)
    nn = (
        bands_delta.alias("x")
        .join(bands_delta.alias("y"), on=["band", "bucket"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
    )
    stored_bands = _read_tree(spark, p["bands"], bands_delta.schema)
    if stored_bands is not None:
        # bounded driver list (<= n_shards entries): real partition
        # pruning on the store read — only shards the delta probes
        touched = [
            r[0] for r in bands_delta.select("shard").distinct().collect()
        ]
        old = stored_bands.where(F.col("shard").isin(touched)).select(
            F.col(id_col).alias("_oid"), "band", "bucket"
        )
        no = (
            bands_delta.select(F.col(id_col).alias("_nid"), "band", "bucket")
            .join(old, on=["band", "bucket"])
            .select(
                F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"),
            )
        )
        cand = nn.unionByName(no).distinct()
    else:
        cand = nn.distinct()
    cand = cand.persist()

    # verification signatures: this delta's + ONLY the stored sig shards
    # the candidate ids land in (VERDICT r5 Next #3 — the sigs store is
    # laid out as sigs/txn=*/sig_shard=pmod(hash(id), n_shards)/, so both
    # candidate→signature joins read O(delta-touched shards), not the
    # whole corpus; ids are globally unique, so each signature exists in
    # exactly one txn)
    stored_sigs = _read_tree(spark, p["sigs"], sigs_out.schema)
    sig_lookup = sigs_delta.select(id_col, "signature")
    if stored_sigs is not None:
        # bounded driver list (<= n_shards entries)
        touched_sig = [
            r[0]
            for r in cand.select(
                F.explode(
                    F.array(
                        _sig_shard_expr(F.col("id_a"), n_shards),
                        _sig_shard_expr(F.col("id_b"), n_shards),
                    )
                ).alias("s")
            )
            .distinct()
            .collect()
        ]
        sig_lookup = sig_lookup.unionByName(
            stored_sigs.where(F.col("sig_shard").isin(touched_sig)).select(
                id_col, "signature"
            )
        )
    pairs_delta = (
        cand.join(
            sig_lookup.select(
                F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sig_lookup.select(
                F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
            ),
            "id_b",
        )
        .withColumn(
            "est_jaccard",
            signature_agreement(F.col("sig_a"), F.col("sig_b"), n_perm),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )

    # prepare (durable staging in the store layout, one file per shard),
    # intent LAST, then the replayable rename promote — identical
    # crash-safety posture to the tier merges
    sigs_out.repartition("sig_shard").write.mode("overwrite").partitionBy(
        "sig_shard"
    ).parquet(p["staging_sigs"])
    bands_delta.repartition("shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(p["staging_bands"])
    pairs_delta.write.mode("overwrite").parquet(p["staging_pairs"])
    txn.write_keys(spark, p["intent"], files)
    sigs_delta.unpersist()
    bands_delta.unpersist()
    cand.unpersist()
    _txn_promote_dedup(spark, state_path)
    return minhash_pairs_store(spark, state_path)
