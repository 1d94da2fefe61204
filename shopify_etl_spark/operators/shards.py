"""Tokenized training-shard export — the pipeline's actual end product
(VERDICT r14 #4).

Everything upstream (curation, dedup, packing) exists to feed a
trainer, and a trainer does not read parquet documents: it memory-maps
FIXED-LENGTH token-id sequences from binary shards and trusts a
manifest for addressing/integrity. This module emits exactly that
artifact from a document table:

* **token ids** — whitespace tokens (``text.tokens``: the engine's
  pinned tokenizer) mapped through a corpus-ranked vocabulary (top-V
  tokens by term frequency, ties broken by token — the deterministic,
  SQL-mirrorable word-level id scheme); everything else maps to one
  OOV id ``V``. The BPE machinery (``text.bpe_train/bpe_apply``) can
  replace this id scheme one-for-one, but its merged ids are not
  SQL-replayable beyond one step (the documented bpe_apply_one_merge
  seam), so the oracled export pins the vocab-rank scheme.
* **sequences** — ids concatenate per group (``source``) in ``doc_id``
  order and cut every ``seq_len`` positions (the pack_sequences
  arithmetic); the group's final short sequence pads to ``seq_len``
  with pad id ``V+1``.
* **shards** — ``seqs_per_shard`` consecutive sequences per shard;
  each shard's payload is its ids packed little-endian uint16
  (vocab + OOV + pad must fit 65536 — enforced), so a shard is
  ``seqs_per_shard·seq_len·2`` bytes, mmap-ready.
* **manifest** — one row per shard: sequence/token/pad counts, byte
  length, and an integrity checksum ``Σ (id+1)·(pos+1)`` over the ids
  RE-READ from the packed bytes (``np.frombuffer``), so the checksum
  witnesses the actual binary round-trip: a byte-order, truncation or
  packing bug changes the recovered ids and the checksum. The SQL
  oracle (``plans/catalog_ext7.py::training_shard_export``) recomputes
  every manifest column from ``documents`` alone — vocabulary ranking,
  global positions, shard arithmetic, the pad-run checksum in closed
  form.

Scale shape: the token-position assignment is the two-phase bounded
prefix scan (``packing._prefix_start`` — never an unbounded per-group
window); the vocabulary is an aggregate + broadcast join (V rows); the
only Python is the per-shard byte packer, an ``applyInPandas`` whose
group is ONE shard (≤ ``seqs_per_shard·seq_len`` ids — KBs), the same
Arrow codec discipline as the image/audio encoders. Blob assembly
parallelizes across shards; nothing corpus-sized ever reaches the
driver.

Publish discipline (``export_training_shards``): shards + manifest are
staged under an invisible ``_stage.v<N>`` directory and published by
ONE atomic directory rename to ``v<N>`` — the txn_store/sketch-store
commit pattern (reference analog: the single-transaction pair commit,
run_etl_with_retries.py:60-94). A crash before the rename leaves only
invisible staging; readers resolve the highest committed version and
always see a consistent (blobs, manifest) pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .materialize import checkpoint_tracked
from .packing import _prefix_start
from .text import tokens

SHARD_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("shard_id", LongType(), False),
        StructField("n_seqs", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("n_pad", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("checksum", LongType(), False),
        StructField("blob", BinaryType(), False),
    ]
)


def blob_checksum(blob: bytes) -> int:
    """Integrity checksum of a packed shard payload: Σ (id+1)·(pos+1)
    over the little-endian uint16 ids RE-READ from the bytes. ONE
    definition shared by the packer and every validating reader — the
    formula the SQL oracles mirror in closed form."""
    rec = np.frombuffer(blob, dtype="<u2").astype(np.int64)
    return int(((rec + 1) * (np.arange(len(rec)) + 1)).sum())


def shard_token_stream(
    docs: DataFrame,
    vocab_size: int = 256,
    seq_len: int = 128,
    seqs_per_shard: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    tokens_col: str | None = None,
) -> DataFrame:
    """One row per token occurrence with its shard address:
    ``(group, shard_id, q, tid)`` where ``q`` is the position inside
    the shard and ``tid`` the vocabulary id (OOV → ``vocab_size``).

    The global per-group position is ``_start`` (two-phase bounded
    prefix scan over per-doc token counts) + the in-doc index — no
    corpus-wide window, no corpus-sized join (positions ride the same
    checkpointed frame the vocabulary pass reads).

    ``tokens_col`` (r16) feeds a PRE-TOKENIZED array column instead of
    whitespace-tokenizing ``text_col`` — the seam the subword (BPE)
    export plugs into: ``bpe_apply`` emits ``bpe_tokens`` and the
    whole position/vocab/shard machinery downstream is unit-agnostic
    (a token is whatever string the tokenizer produced)."""
    tok_expr = (
        F.col(tokens_col) if tokens_col is not None else tokens(text_col)
    )
    base = checkpoint_tracked(
        docs.select(
            id_col,
            group_col,
            tok_expr.alias("_toks"),
        ).withColumn("n_tokens", F.size("_toks"))
        .filter(F.col("n_tokens") > 0)
    )
    from pyspark.sql import Window

    vocab = (
        base.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .orderBy(F.desc("_tf"), F.asc("token"))
        .limit(vocab_size)
        .select(
            "token",
            (
                F.row_number().over(
                    Window.orderBy(F.desc("_tf"), F.asc("token"))
                )
                - 1
            ).cast("long").alias("tid"),
        )
    )
    positions = (
        _prefix_start(base, id_col, group_col)
        .select(
            group_col,
            "_start",
            F.posexplode("_toks").alias("_idx", "token"),
        )
        .join(F.broadcast(vocab), "token", "left")
        .select(
            group_col,
            (F.col("_start") + F.col("_idx")).alias("_p"),
            F.coalesce("tid", F.lit(vocab_size)).cast("long").alias("tid"),
        )
    )
    span = seq_len * seqs_per_shard
    return positions.select(
        group_col,
        (F.col("_p") / span).cast("long").alias("shard_id"),
        (F.col("_p") % span).cast("long").alias("q"),
        "tid",
    )


def shard_blobs(
    stream: DataFrame,
    vocab_size: int = 256,
    seq_len: int = 128,
    group_col: str = "source",
) -> DataFrame:
    """Assemble each shard's binary payload + manifest row from its
    token stream. One ``applyInPandas`` group per shard (KB-sized);
    the checksum is computed from ids RE-READ out of the packed bytes,
    so it certifies the blob, not the inputs."""
    pad_id = vocab_size + 1
    if pad_id > 0xFFFF:
        raise ValueError(
            f"vocab_size {vocab_size} overflows the uint16 shard layout"
        )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[group_col].iloc[0]
        shard = int(pdf["shard_id"].iloc[0])
        ordered = pdf.sort_values("q")
        ids = ordered["tid"].to_numpy(dtype=np.int64)
        qs = ordered["q"].to_numpy(dtype=np.int64)
        r = len(ids)
        if not (qs == np.arange(r)).all():
            raise ValueError(
                f"shard ({src!r}, {shard}) token positions are not "
                "contiguous from 0 — upstream packing bug"
            )
        n_seqs = -(-r // seq_len)
        total = n_seqs * seq_len
        padded = np.full(total, pad_id, dtype=np.int64)
        padded[:r] = ids
        blob = padded.astype("<u2").tobytes()
        # integrity checksum over the ids RECOVERED from the bytes
        checksum = blob_checksum(blob)
        return pd.DataFrame(
            [
                (
                    src, shard, n_seqs, r, total - r,
                    len(blob), checksum, blob,
                )
            ],
            columns=[f.name for f in SHARD_SCHEMA.fields],
        )

    from .text import spread_groups

    return spread_groups(stream, group_col, "shard_id").groupBy(
        group_col, "shard_id"
    ).applyInPandas(pack, SHARD_SCHEMA)


def shard_manifest(blobs: DataFrame) -> DataFrame:
    """The manifest view (everything but the payload bytes)."""
    return blobs.select(
        "source", "shard_id", "n_seqs", "n_tokens", "n_pad",
        "byte_len", "checksum",
    )


# ---------------------------------------------------------------------------
# crash-safe publish (one-rename commit)
# ---------------------------------------------------------------------------


def _fs(spark: SparkSession, path: str):
    from ..pipeline.runner import _hadoop_fs

    return _hadoop_fs(spark, path)


def _committed_versions(spark: SparkSession, root: str) -> list[int]:
    fs, p = _fs(spark, root)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def export_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    vocab_size: int = 256,
    seq_len: int = 128,
    seqs_per_shard: int = 8,
    **stream_kw,
) -> int:
    """Compute shards + manifest and publish them atomically under
    ``root/v<N>/{blobs,manifest}``. Staging writes land in
    ``root/_stage.v<N>`` (invisible to readers — resolution only
    accepts ``v<digits>``); the publish point is ONE directory rename.
    Returns the committed version number."""
    stream = shard_token_stream(
        docs, vocab_size=vocab_size, seq_len=seq_len,
        seqs_per_shard=seqs_per_shard, **stream_kw,
    )
    blobs = shard_blobs(stream, vocab_size=vocab_size, seq_len=seq_len)
    version = (_committed_versions(spark, root)[-1:] or [0])[0] + 1
    stage = f"{root}/_stage.v{version}"
    final = f"{root}/v{version}"
    blobs.write.mode("overwrite").parquet(f"{stage}/blobs")
    staged = spark.read.parquet(f"{stage}/blobs")
    shard_manifest(staged).write.mode("overwrite").parquet(
        f"{stage}/manifest"
    )
    fs, stage_p = _fs(spark, stage)
    _, final_p = _fs(spark, final)
    if not fs.rename(stage_p, final_p):
        raise OSError(f"shard export publish rename failed: {final}")
    return version


def read_training_shards(
    spark: SparkSession, root: str, validate: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(manifest, blobs) of the newest committed version. With
    ``validate`` the manifest is cross-checked against checksums
    recomputed FROM THE STORED BYTES — bit rot or a torn write fails
    loudly before a trainer consumes garbage."""
    versions = _committed_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no committed shard versions under {root}")
    v = versions[-1]
    manifest = spark.read.parquet(f"{root}/v{v}/manifest")
    blobs = spark.read.parquet(f"{root}/v{v}/blobs")
    if validate:
        def recheck(batches):
            for pdf in batches:
                outs = [
                    (
                        row["source"], int(row["shard_id"]),
                        blob_checksum(bytes(row["blob"])),
                    )
                    for _, row in pdf.iterrows()
                ]
                yield pd.DataFrame(
                    outs, columns=["source", "shard_id", "stored_ck"]
                )

        stored = blobs.mapInPandas(
            recheck, "source string, shard_id long, stored_ck long"
        )
        bad = (
            manifest.join(stored, ["source", "shard_id"], "full")
            .filter(
                F.col("checksum").isNull()
                | F.col("stored_ck").isNull()
                | (F.col("checksum") != F.col("stored_ck"))
            )
            .count()
        )
        if bad:
            raise ValueError(
                f"shard store {root} v{v}: {bad} shard(s) fail "
                "checksum validation"
            )
    return manifest, blobs


__all__ = [
    "SHARD_SCHEMA",
    "blob_checksum",
    "shard_token_stream",
    "shard_blobs",
    "shard_manifest",
    "export_training_shards",
    "read_training_shards",
]
