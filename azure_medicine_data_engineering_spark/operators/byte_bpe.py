"""Byte-level BPE tokenizer training (GPT-2 style; round 12).

The production variant of the repo's word-internal char-level BPE
(``operators/text.py:bpe_merge_train``): symbols start as the 256 BYTES of
each word's UTF-8 encoding, remapped through the public GPT-2
byte->printable-unicode table (Radford et al. 2019, ``encoder.py``'s
``bytes_to_unicode`` — every byte gets a visible, non-whitespace character
so merged symbols remain plain strings), then the standard merge loop runs
over byte-symbol sequences. This is the case char-level BPE cannot
represent: a multi-byte UTF-8 character is two/three byte symbols that the
trainer may merge ACROSS (pytest pins such a merge), and any byte sequence
— emoji, CJK, mojibake — tokenizes without an UNK.

Engine-portable encoding: the delimited ``<US>s1<US><US>s2<US>`` symbol
string of the char-level trainer, with the delimiter switched from ``|``
(which IS a byte symbol here — 0x7C maps to itself) to the unit separator
``chr(31)``. Bytes 0-32 are remapped to 256+n by the GPT-2 table, so
``chr(31)`` can never appear inside a symbol and the single ``replace``
per merge keeps its boundary-safe leftmost-non-overlap semantics on both
engines. All mapped codepoints are < 0x144 (BMP), so Spark's UTF-16 and
DuckDB's UTF-8 string orderings agree on the deterministic tie-break
(count DESC, left ASC, right ASC).

Scale shape is identical to the char-level trainer (same loop, same
persist/localCheckpoint discipline): the corpus collapses ONCE to the
distinct-word frequency table; each round is one keyed pair-count shuffle
with map-side combine, a 1-row argmax, and a map-only broadcast rewrite.
The byte-expansion (hex -> per-byte symbol lookup) is pure JVM column
algebra — no UDF.

Reference lineage: re-expresses the train-small/serve-distributed
tokenizer boundary of ``Hypothesis testing R.r:354-359`` at corpus scale,
like the char-level trainer it extends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.sources.readers import from_rows

DELIM = chr(31)  # unit separator: outside the GPT-2 mapped-symbol image


def gpt2_bytes_to_unicode() -> dict[int, str]:
    """The public GPT-2 byte->unicode table: printable latin-1 bytes map
    to themselves, the rest to 256+n in byte order."""
    bs = list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


BYTE_SYMBOLS: list[str] = [gpt2_bytes_to_unicode()[b] for b in range(256)]


def byte_symbol_string(word_col: F.Column) -> F.Column:
    """UTF-8 bytes of ``word_col`` as the delimited byte-symbol string:
    ``hex(word) -> 2-char chunks -> GPT-2 symbol lookup -> <US>-joined``.
    Pure built-in column algebra (hex / regexp_extract_all / transform /
    element_at on a 256-literal array)."""
    table = F.array(*[F.lit(s) for s in BYTE_SYMBOLS])
    chunks = F.regexp_extract_all(
        F.hex(F.encode(word_col, "UTF-8")), F.lit(".."), F.lit(0)
    )
    syms = F.transform(
        chunks, lambda c: F.element_at(table, F.conv(c, 16, 10).cast("int") + 1)
    )
    return F.concat(
        F.lit(DELIM), F.array_join(syms, DELIM + DELIM), F.lit(DELIM)
    )


def byte_bpe_merge_train(
    df: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    words_freq: DataFrame | None = None,
) -> DataFrame:
    """Byte-level BPE merge-loop training. Words are the lowercased
    ``^[a-z]+$`` whitespace tokens (the repo's oracle-aligned word gate),
    passed through the deterministic multi-byte enrichment
    ``a->ä, e->日, o->ø`` (2- and 3-byte UTF-8 — the inputs char-level BPE
    cannot even represent), then byte-symbolized and merged ``n_merges``
    times. Returns ``(merge_idx, left_sym, right_sym, pair_count)`` with
    the char-level trainer's deterministic tie-break."""
    from azure_medicine_data_engineering_spark.operators.text import tokens

    if words_freq is not None:
        # pre-derived (w, f) unit table — e.g. GPT-2 pretokens (round 13);
        # no lowercase gate, no enrichment: the caller owns the unit rule
        enriched = words_freq.select(F.col("w"), F.col("f"))
        words = enriched.select(byte_symbol_string(F.col("w")).alias("s"), "f")
        return _merge_loop(words, n_merges)
    base = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"))
        .where(F.col("_w").rlike("^[a-z]+$"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    enriched = base.select(
        F.replace(
            F.replace(
                F.replace(F.col("_w"), F.lit("a"), F.lit("ä")),
                F.lit("e"),
                F.lit("日"),
            ),
            F.lit("o"),
            F.lit("ø"),
        ).alias("w"),
        "f",
    )
    words = enriched.select(byte_symbol_string(F.col("w")).alias("s"), "f")
    return _merge_loop(words, n_merges)


def _merge_loop(words: DataFrame, n_merges: int) -> DataFrame:
    """The shared eager-checkpoint merge loop over a byte-symbolized
    ``(s, f)`` frame (factored in round 13 for the pretokenized variant)."""
    dd = DELIM + DELIM
    # Optimization round 15 (guide §5/§1.2): driver-collected 1-row argmax
    # + lazy literal replaces over the ONE checkpointed word frame — one
    # Spark job per round instead of two full materializations, linear
    # plan growth, bit-identical results (see bpe_merge_train, same
    # rationale).
    spark = words.sparkSession
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for i in range(1, n_merges + 1):
        toks = cur.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), dd).alias("l"),
            "f",
        )
        pairs = toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("l", 1, F.size("l") - 1).alias("a"),
                    F.slice(F.col("l"), 2, F.size("l") - 1).alias("b"),
                )
            ).alias("p"),
            "f",
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "f")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((i, a, b, cnt))
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit(f"{DELIM}{a}{dd}{b}{DELIM}"),
                F.lit(f"{DELIM}{a}{b}{DELIM}"),
            ).alias("s"),
            "f",
        )
    return from_rows(
        spark,
        merges,
        "merge_idx int, left_sym string, right_sym string, pair_count long",
    )


def byte_bpe_tokenize_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a trained byte-level merge table (the byte sibling of
    ``text.bpe_tokenize_stats``): each word's UTF-8 byte-symbol string
    gets the merges applied IN TRAINING ORDER as boundary-safe literal
    replaces — a fixed chain of JVM string ops over the DISTINCT word
    table, per-doc stats re-join the exploded corpus. Words pass the same
    gate + multi-byte enrichment as training. Returns
    ``(id, n_words, n_pieces)`` — and NO UNK column: byte-level serving
    cannot fail (every byte is a base symbol), which is the operational
    point of the byte alphabet."""
    from azure_medicine_data_engineering_spark.operators.text import tokens

    dd = DELIM + DELIM
    enrich = lambda c: F.replace(  # noqa: E731
        F.replace(F.replace(c, F.lit("a"), F.lit("ä")), F.lit("e"), F.lit("日")),
        F.lit("o"),
        F.lit("ø"),
    )
    enc = byte_symbol_string(enrich(F.col("_w")))
    for a, b in merges:
        enc = F.replace(
            enc, F.lit(f"{DELIM}{a}{dd}{b}{DELIM}"), F.lit(f"{DELIM}{a}{b}{DELIM}")
        )
    n_pieces = F.size(
        F.split(F.expr("substring(_enc, 2, length(_enc) - 2)"), dd)
    )
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"))
        .where(F.col("_w").rlike("^[a-z]+$"))
        .distinct()
        .select("_w", enc.alias("_enc"))
        .select("_w", n_pieces.cast("long").alias("_np"))
    )
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("_w")
    ).where(F.col("_w").rlike("^[a-z]+$"))
    return (
        exploded.join(words, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_np").cast("long").alias("n_pieces"),
        )
    )
