"""GPT-2 tokenizer artifact export + re-ingest round trip (round 15).

The byte-BPE trainers (``operators/byte_bpe.py``) produce the merge table
only as a DataFrame; the published GPT-2 interchange artifacts are
``merges.txt`` (ordered merge rules, one ``left right`` line each, after a
``#version`` header) and ``vocab.json`` (token -> id). This module lands
both, re-ingests them FROM THE LANDED BYTES, and serves the corpus with
the re-ingested artifacts — the same export -> land -> parse -> reproduce
discipline as the ARPA round trip (`operators/arpa.py`) and the WDS tar
manifests.

Grain argument (why the files are driver-written): the artifact is
VOCAB-grain, not corpus-grain — production GPT-2 ships 50,000 merges and a
50,257-entry vocab in two small single files, which every serving worker
loads whole (HuggingFace ``tokenizers`` does exactly this). The
corpus-scale piece — encoding — is fully distributed below: distinct
pretokens get the merge chain as JVM string algebra, ids arrive via one
broadcast join, and per-doc stats re-join the exploded corpus. Writes are
atomic (tmp + ``os.replace``), ``vocab.json`` last as the commit marker
(it is derived from merges.txt, so a reader that finds it can trust both).

Format safety: no GPT-2 byte symbol can contain a space or newline — the
``bytes_to_unicode`` table maps 0x20 and 0x0A into the 0x100+ range — so
the single-space merge separator and line framing are unambiguous (the
same property the published merges.txt relies on).

Reference lineage: extends the train-small/serve-distributed tokenizer
boundary of ``Hypothesis testing R.r:354-359`` (scale extension, same
class as the ARPA exporter).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.operators.byte_bpe import (
    BYTE_SYMBOLS,
    DELIM,
    byte_symbol_string,
)
from azure_medicine_data_engineering_spark.sources.readers import from_rows

GPT2_MERGES_FILE = "merges.txt"
GPT2_VOCAB_FILE = "vocab.json"
MERGES_HEADER = "#version: 0.2"


def gpt2_base_vocab_order() -> list[str]:
    """The 256 base byte symbols in PUBLISHED id order: the GPT-2
    encoder.json numbers base tokens by symbol codepoint (``"!"`` = 0,
    the 188 printable latin-1 bytes first, then the remapped 0x100+
    symbols), which equals sorting the bytes_to_unicode image by
    codepoint. Pinned against hand values in tests/test_tokenizer_io.py."""
    return sorted(BYTE_SYMBOLS, key=ord)


def gpt2_vocab_from_merges(merges: list[tuple[str, str]]) -> dict[str, int]:
    """The deterministic GPT-2 vocab induced by an ordered merge list:
    the 256 base byte symbols get ids 0..255 in published (codepoint)
    order, then merge ``i`` (1-based) contributes ``left + right`` at id
    ``255 + i`` — exactly how the published encoder numbers its
    vocabulary (first merge = id 256). Raises on a duplicate merged token
    (a degenerate BPE state where two merge paths build the same string;
    ids would collide in vocab.json)."""
    vocab: dict[str, int] = {
        s: i for i, s in enumerate(gpt2_base_vocab_order())
    }
    for i, (a, b) in enumerate(merges, start=1):
        tok = a + b
        if tok in vocab:
            raise ValueError(f"duplicate merged token at merge {i}: {tok!r}")
        vocab[tok] = 255 + i
    return vocab


def export_gpt2_tokenizer(
    merges: list[tuple[str, str]], out_dir: str
) -> dict[str, int]:
    """Land ``merges.txt`` then ``vocab.json`` (commit marker) under
    ``out_dir``, each via attempt-local tmp + atomic rename. Returns the
    vocab that was written. Vocab-grain driver write — see module doc."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = gpt2_vocab_from_merges(merges)

    mpath = os.path.join(out_dir, GPT2_MERGES_FILE)
    tmp = mpath + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(MERGES_HEADER + "\n")
        for a, b in merges:
            fh.write(f"{a} {b}\n")
    os.replace(tmp, mpath)

    vpath = os.path.join(out_dir, GPT2_VOCAB_FILE)
    tmp = vpath + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(vocab, fh, ensure_ascii=False, separators=(",", ":"))
    os.replace(tmp, vpath)
    return vocab


def parse_gpt2_tokenizer(
    root: str,
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Re-ingest the landed artifacts: parse merges.txt (header skipped,
    exactly two space-separated symbols per line) and vocab.json, then
    cross-validate — vocab size must be ``256 + n_merges`` and every
    merge's concatenation must carry the id its position implies. A
    formatting or ordering defect in the exporter fails here, before any
    corpus work runs."""
    merges: list[tuple[str, str]] = []
    with open(os.path.join(root, GPT2_MERGES_FILE), encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split(" ")
            if len(parts) != 2:
                raise ValueError(f"malformed merge line: {line!r}")
            merges.append((parts[0], parts[1]))
    with open(os.path.join(root, GPT2_VOCAB_FILE), encoding="utf-8") as fh:
        vocab = {str(k): int(v) for k, v in json.load(fh).items()}
    if len(vocab) != 256 + len(merges):
        raise ValueError(
            f"vocab size {len(vocab)} != 256 + {len(merges)} merges"
        )
    for i, (a, b) in enumerate(merges, start=1):
        if vocab.get(a + b) != 255 + i:
            raise ValueError(f"merge {i} token {(a + b)!r} id mismatch")
    return merges, vocab


def _gpt2_word_piece_stats(
    words: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    spark: SparkSession,
) -> DataFrame:
    """Per-DISTINCT-pretoken piece stats ``(wd, _np, _sid, _nov)``: each
    word's byte-symbol string gets the merges in training order as
    boundary-safe JVM literal replaces, pieces map to ids through one
    broadcast join against the (vocab-sized) id table. ``words`` must be
    a distinct single-column ``(wd)`` frame."""
    dd = DELIM + DELIM
    enc = byte_symbol_string(F.col("wd"))
    for a, b in merges:
        enc = F.replace(
            enc,
            F.lit(f"{DELIM}{a}{dd}{b}{DELIM}"),
            F.lit(f"{DELIM}{a}{b}{DELIM}"),
        )
    vocab_df = from_rows(
        spark,
        [(t, i) for t, i in vocab.items()],
        "piece_tok string, piece_id long",
    )
    pieces = words.select("wd", enc.alias("_enc")).select(
        "wd",
        F.explode(
            F.split(F.expr("substring(_enc, 2, length(_enc) - 2)"), dd)
        ).alias("piece"),
    )
    return (
        pieces.join(
            F.broadcast(vocab_df),
            pieces.piece == vocab_df.piece_tok,
            "left",
        )
        .groupBy("wd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_np"),
            F.coalesce(F.sum("piece_id"), F.lit(0)).cast("long").alias("_sid"),
            F.sum(
                F.when(F.col("piece_id").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("_nov"),
        )
    )


def gpt2_encode_ids_stats(
    units: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    spark: SparkSession,
    group_col: str = "g",
    id_col: str = "doc_id",
    word_col: str = "w",
) -> DataFrame:
    """Serve a re-ingested tokenizer over an exploded pretoken frame
    ``(id_col, group_col, word_col)`` and report per-group
    ``(g, n_docs, n_pretokens, n_pieces, sum_ids, n_oov)``.

    Distributed shape: the corpus collapses to the DISTINCT-pretoken
    table (:func:`_gpt2_word_piece_stats`), and the per-word stats
    re-join the exploded corpus. ``sum_ids`` makes every id assignment
    load-bearing; ``n_oov`` must be 0 — byte-level pieces are base
    symbols or merge results, all in the vocab by construction — so a
    parse defect that drops a vocab entry surfaces as a nonzero count,
    not a silent skip."""
    wstats = _gpt2_word_piece_stats(
        units.select(F.col(word_col).alias("wd")).distinct(),
        merges,
        vocab,
        spark,
    )
    return (
        units.join(wstats, units[word_col] == wstats.wd)
        .groupBy(group_col)
        .agg(
            F.count_distinct(id_col).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum("_np").cast("long").alias("n_pieces"),
            F.sum("_sid").cast("long").alias("sum_ids"),
            F.sum("_nov").cast("long").alias("n_oov"),
        )
    )


def gpt2_encode_ids_stats_from_counts(
    gw: DataFrame,
    ndocs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    spark: SparkSession,
) -> DataFrame:
    """Count-grain twin of :func:`gpt2_encode_ids_stats` (optimization
    round 15 — guide §8 "decide with small rows, move big rows once"):
    the corpus arrives already collapsed to per-``(g, w)`` occurrence
    counts ``gw(g, w, c)`` plus a per-group doc-count frame
    ``ndocs(g, n_docs)``, so the heavy join attaches per-word piece stats
    at (group x distinct-pretoken) grain instead of pretoken-POSITION
    grain. Exactly equal to the position-grain form: every reported
    quantity is an integer sum over positions, and
    ``sum(c * stat) == sum over positions of stat`` (integer arithmetic,
    order-independent); ``n_pretokens == sum(c)``."""
    wstats = _gpt2_word_piece_stats(
        gw.select(F.col("w").alias("wd")).distinct(), merges, vocab, spark
    )
    return (
        gw.join(wstats, gw.w == wstats.wd)
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_pretokens"),
            F.sum(F.col("c") * F.col("_np")).cast("long").alias("n_pieces"),
            F.sum(F.col("c") * F.col("_sid")).cast("long").alias("sum_ids"),
            F.sum(F.col("c") * F.col("_nov")).cast("long").alias("n_oov"),
        )
        .join(F.broadcast(ndocs), "g")
        .select(
            "g", "n_docs", "n_pretokens", "n_pieces", "sum_ids", "n_oov"
        )
    )
