"""Sequence packing: documents -> fixed-length training sequences.

The last step of a pretraining data pipeline: concatenate tokenized
documents in a deterministic order and cut the stream into fixed-length
sequences (GPT-style packing — documents may straddle sequence boundaries;
the trainer masks or resets attention at document breaks). The operator
computes, for every document, WHERE its tokens land in that stream:

    start_offset     exclusive global prefix sum of token counts in id order
    pack_id          start_offset div seq_len      (first sequence touched)
    pack_offset      start_offset mod seq_len      (position inside it)
    n_packs_spanned  how many sequences the document crosses

which is everything a writer needs to emit packed sequences in parallel
(each output pack p gathers the docs with pack_id <= p < pack_id +
n_packs_spanned; the gather is an equi-join on pack_id after a cheap
interval explode).

Scale shape: `start_offset` is the weighted form of the crawl's global
seq — plans/ordering.py assign_global_seq_counted with the token count as
the weight, so the corpus is never funnelled through the ONE partition a
`SUM() OVER (ORDER BY id)` would use. Deterministic, shuffle-safe, never
depends on partition iteration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.ordering import assign_global_seq_counted


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    seq_len: int,
) -> DataFrame:
    """Add (start_offset, pack_id, pack_offset, n_packs_spanned) for the
    deterministic concatenation of documents in ascending `id_col` order
    (ids must be duplicate-free, token counts >= 0). Empty documents get
    their stream position with n_packs_spanned = 0."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    n_tok = F.col(n_tokens_col).cast("long")
    out, _ = assign_global_seq_counted(
        df, [id_col], out_col="start_offset", weight=n_tok
    )
    L = F.lit(seq_len).cast("long")
    # `div` (integer division), never `/`: Spark's / goes through double,
    # which silently corrupts offsets past 2^53 — a real regime at corpus
    # scale (a 100-TB corpus is ~2.5e13 tokens). The token count goes
    # through a fixed-name staging column so the expr never interpolates a
    # user column name (backticks/reserved words would break the parse).
    return (
        out.withColumn("_n_tok", n_tok)
        .withColumn("pack_id", F.expr(f"start_offset div {seq_len}"))
        .withColumn("pack_offset", F.col("start_offset") % L)
        .withColumn(
            "n_packs_spanned",
            F.when(n_tok == 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(start_offset + _n_tok - 1) div {seq_len}")
                - F.col("pack_id")
                + 1
            ),
        )
        .drop("_n_tok")
    )


def pack_assignments(
    packed: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Explode the packing table into one (pack_id, id) row per sequence a
    document touches — the gather side of a parallel pack writer (group by
    pack_id, sort by start_offset, emit the sequence). Pure Column interval
    explode; a document spanning k sequences emits k rows."""
    return (
        packed.where(F.col("n_packs_spanned") > 0)
        .select(
            F.col(id_col),
            "start_offset",
            F.explode(
                F.sequence(
                    F.col("pack_id"),
                    F.col("pack_id") + F.col("n_packs_spanned") - 1,
                )
            ).alias("pack_id"),
        )
    )


def pack_emit(
    packed: DataFrame,
    tokens_df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
) -> DataFrame:
    """WRITER stage of sequence packing: materialize the actual packed
    token sequences. `packed` is pack_sequences' output; `tokens_df` maps
    id -> token array. Returns one row per pack:

        pack_id     long
        n_tokens    int          (== seq_len for every pack but the last)
        tokens      array<string> gathered in stream order
        doc_breaks  array<int>   positions (0-based, ascending) where a
                                 document STARTS inside this pack

    Document boundaries are emitted as the `doc_breaks` position list, not
    as marker tokens spliced into the stream: a marker that occupies a
    token slot would shift every downstream offset and break the
    pack_sequences arithmetic, while the break list carries the same
    information losslessly (it is exactly what attention-reset /
    loss-masking needs; a trainer that wants literal separator tokens can
    append them to each document BEFORE counting tokens). A pack fully
    interior to one long document has an empty break list; a pack whose
    first content continues a straddling document starts with a break > 0
    or none at 0.

    Scale shape: each doc's token slice for each pack it touches is cut
    JVM-side (F.slice) BEFORE the shuffle, so a document spanning k packs
    ships each token once — never its full array k times (that would be
    quadratic for book-length docs). The per-pack assembly is ONE hash
    aggregation: collect_list of the ready (start_offset, starts_here,
    slice) structs — bounded at seq_len tokens per group by construction,
    which is what makes collect_list safe here — then sort_array (docs
    are contiguous in the stream, so start_offset orders the slices and
    they tile [pack_id*seq_len, (pack_id+1)*seq_len) exactly), a flatten
    for the token stream, and an aggregate() running-length fold for the
    break positions. Zero Python (r6): the previous applyInPandas writer
    paid ~5 ms of per-group pandas overhead x one group PER PACK —
    measured 3.6s of a 6s wall at sf1.0's 21k packs — while the
    higher-order functions here fold over only the per-pack slice structs
    (a few per pack). Parity with the single-threaded Python writer is
    pinned by tests/test_operators.py::test_pack_emit_matches_python_reference."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    asg = pack_assignments(packed, id_col)
    toks = tokens_df.select(
        F.col(id_col), F.col(tokens_col).alias("_toks")
    )
    j = asg.join(toks, id_col)
    L = F.lit(seq_len).cast("long")
    pack_start = F.col("pack_id") * L
    n = F.size("_toks").cast("long")
    lo = F.greatest(F.lit(0).cast("long"), pack_start - F.col("start_offset"))
    hi = F.least(n, (F.col("pack_id") + F.lit(1)) * L - F.col("start_offset"))
    sliced = j.select(
        "pack_id",
        "start_offset",
        # doc-local indices fit int: a single doc's length bounds them
        F.slice("_toks", (lo + 1).cast("int"), (hi - lo).cast("int")).alias("_slice"),
        (F.col("start_offset") >= pack_start).alias("_starts_here"),
    )

    grouped = sliced.groupBy("pack_id").agg(
        # struct comparison orders by the first field; start_offset is
        # unique within a pack, so the sort is total and deterministic
        F.sort_array(
            F.collect_list(F.struct("start_offset", "_starts_here", "_slice"))
        ).alias("_parts")
    )
    tokens = F.flatten(F.transform("_parts", lambda p: p["_slice"]))
    # (running length, break positions) fold over the sorted slices: a
    # slice whose doc STARTS in this pack contributes the current length
    # as a break; every slice advances the length by its size
    fold = F.aggregate(
        "_parts",
        F.struct(
            F.lit(0).alias("len"), F.array().cast("array<int>").alias("brs")
        ),
        lambda a, p: F.struct(
            (a["len"] + F.size(p["_slice"])).alias("len"),
            F.when(
                p["_starts_here"], F.concat(a["brs"], F.array(a["len"]))
            ).otherwise(a["brs"]).alias("brs"),
        ),
    )
    return grouped.select(
        "pack_id",
        F.size(tokens).alias("n_tokens"),
        tokens.alias("tokens"),
        fold["brs"].alias("doc_breaks"),
    )
