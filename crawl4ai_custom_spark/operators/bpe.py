"""BPE tokenizer training and encoding as dataflow (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The engine's text profile estimates BPE token counts with a regex
(textstats.profile_documents); this module TRAINS the real thing. The
trick that makes BPE distributable is the algorithm's own: after ONE
corpus pass builds the word vocabulary with frequencies, every training
round runs on the VOCAB table (|distinct words|, orders of magnitude
smaller than the corpus — still a DataFrame, never a driver structure).
Each round is:

    explode adjacent symbol pairs weighted by word count
      -> ONE groupBy(pair) sum              (partial-agg map-side)
      -> top-1 pair (count desc, pair asc — deterministic tie break)
      -> rewrite the symbol arrays (Arrow-batched pandas stage over the
         vocab table; left-to-right greedy merge, the reference rule)
      -> materialize (lineage truncation, the kmeans/frontier pattern)

Encoding re-uses the same split: encode each DISTINCT word once (vocab
table), then join token arrays back to the corpus — a 100 TB corpus
never re-runs the merge loop per occurrence.

Reference parity: crawl4ai counts tokens for chunking via a word regex
(chunking_strategy.py RegexChunking + OverlappingWindowChunking token
budgets); a trained subword vocabulary is engine-side pipeline surface
(task brief: token counting, BPE-ish).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

END = "</w>"

_VOCAB_SCHEMA = StructType([
    StructField("word", StringType()),
    StructField("n", LongType()),
    StructField("syms", ArrayType(StringType())),
])


def _word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """One corpus pass: (word, n) frequencies over the engine's standard
    tokenization, plus the initial character-symbol split."""
    words = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)
        ).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    syms = F.concat(
        F.split(F.col("word"), ""),  # one element per character
        F.array(F.lit(END)),
    )
    return vocab.select("word", "n", syms.alias("syms"))


def _merge_once(left: str, right: str, syms: list) -> list:
    """Left-to-right greedy application of one merge — the reference
    (and every BPE implementation's) rewrite rule."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_MERGE_SCHEMA = StructType([
    StructField("rank", LongType()),
    StructField("left", StringType()),
    StructField("right", StringType()),
    StructField("merged", StringType()),
])


def _merge_table(spark, merges: list) -> DataFrame:
    from ..session import local_df

    return local_df(
        spark, [(r, l, rt, l + rt) for r, l, rt in merges], _MERGE_SCHEMA
    )


def train_bpe(docs: DataFrame, n_merges: int, text_col: str = "text",
              checkpoint_dir: str | None = None) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge table (rank, left, right, merged) — rank is application order.

    Ties on pair count break on (left, right) ascending so the learned
    vocabulary is deterministic across partitionings and engines. Each
    round's only driver traffic is the single winning pair (a per-round
    scalar, the kmeans-centroid pattern); the vocab rewrite happens
    executor-side and materializes to parquet so the plan never grows.
    Training stops early if no pair occurs twice (nothing left to merge).

    Small-vocab fast path (the cluster_pairs pattern): when the word vocab
    passes the linear small-input gate (a parquet footer count of the one
    materialization that happens anyway, then ``session.collect_if_small``),
    the merge loop runs driver-side over the collected (word, n) table — the vocab
    IS the algorithm's working set, so a 150k-word corpus is a few MB.
    Web-scale vocabularies exceed the gate and take the distributed
    per-round loop unchanged; both paths are asserted identical in
    tests/test_bpe.py.
    """
    from ..session import LINEAR_MAX_ROWS, collect_if_small

    spark = docs.sparkSession
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="bpe_")

    # materialize the vocab ONCE (no second pass over the corpus
    # aggregation); both paths read the materialized table
    path = os.path.join(ckpt, "vocab_0")
    _word_vocab(docs, text_col).write.mode("overwrite").parquet(path)
    vocab = spark.read.parquet(path)

    merges: list[tuple[int, str, str]] = []
    # the footer count (no data scan) spares a vocab past the bound the probe
    rows = (collect_if_small(vocab.select("word", "n"), LINEAR_MAX_ROWS)
            if vocab.count() <= LINEAR_MAX_ROWS else None)
    if rows is not None:
        words = {r["word"]: (list(r["word"]) + [END], int(r["n"]))
                 for r in rows}
        for r in range(n_merges):
            pc: dict = {}
            for syms, n in words.values():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + n
            if not pc:
                break
            (left, right), c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if c < 2:
                break
            merges.append((r, left, right))
            words = {
                w: (_merge_once(left, right, syms), n)
                for w, (syms, n) in words.items()
            }
        return _merge_table(spark, merges)

    for r in range(n_merges):
        pairs = vocab.select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(F.size("syms") - 1,
                                                  F.lit(0))),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r").agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((r, left, right))

        def rewrite(batches: Iterator[pd.DataFrame],
                    _l=left, _r=right) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["syms"] = [
                    _merge_once(_l, _r, list(s)) for s in pdf["syms"]
                ]
                yield pdf

        nxt = vocab.mapInPandas(rewrite, _VOCAB_SCHEMA)
        path = os.path.join(ckpt, f"vocab_{(r + 1) % 2}")
        nxt.write.mode("overwrite").parquet(path)
        vocab = spark.read.parquet(path)

    return _merge_table(spark, merges)


def bpe_encode(docs: DataFrame, merges: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Encode with a learned merge table: (id, n_words, n_bpe_tokens,
    tokens array — the per-word subword sequences concatenated in word
    order).

    Scale shape: the merge loop runs ONCE PER DISTINCT WORD (vocab-table
    pandas stage with the merge list broadcast via closure — merge tables
    are small by construction), then token arrays join back to the
    exploded corpus by word. A document is never re-merged.
    """
    ordered = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").collect()
    ]

    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)
        ).alias("pos", "word"),
    )
    distinct_words = words.select("word").distinct()

    enc_schema = StructType([
        StructField("word", StringType()),
        StructField("toks", ArrayType(StringType())),
    ])

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for w in pdf["word"]:
                syms = list(w) + [END]
                for left, right in ordered:
                    if len(syms) == 1:
                        break
                    syms = _merge_once(left, right, syms)
                out.append(syms)
            yield pd.DataFrame({"word": pdf["word"], "toks": out})

    encoded = distinct_words.mapInPandas(enc, enc_schema)
    per_word = words.join(encoded, "word")
    agg = per_word.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("toks")).alias("n_bpe_tokens"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "toks"))
                ),
                lambda x: x["toks"],
            )
        ).alias("tokens"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, docs[id_col] == agg["id"], "left")
        .drop("id")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.coalesce("tokens", F.array().cast("array<string>"))
            .alias("tokens"),
        )
    )


def unigram_seed_vocab(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_piece: int = 4,
    extra_pieces: int = 48,
) -> DataFrame:
    """Seed vocabulary for a unigram-LM tokenizer (Kudo 2018,
    "Subword Regularization", arXiv:1804.10959 — the SentencePiece
    unigram model; public paper): every substring of length 1..max_piece
    of every distinct word, counted weighted by word frequency; the
    vocabulary keeps ALL single characters (so any word stays
    segmentable) plus the ``extra_pieces`` most frequent multi-character
    pieces (count desc, piece asc — deterministic). Unigram costs are
    INTEGER micro-nats, cost = round(-ln(count/total)*1e6), so the
    downstream Viterbi is exact integer arithmetic — bit-identical across
    Spark, pandas workers and the SQL oracle, no float-summation drift.

    Scale shape: one corpus pass builds the word-frequency table (the
    BPE trick above — Heaps-bounded), substring explode runs on the
    VOCAB table (≤ len·max_piece rows per distinct word), one groupBy
    counts pieces, the one-row total broadcasts. The global top-K window
    is vocab-sized by construction."""
    from pyspark.sql import Window

    if max_piece < 2:
        raise ValueError("max_piece must be >= 2")
    words = (
        docs.select(F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    subs = (
        words
        .select("word", "freq",
                F.explode(F.sequence(F.lit(1), F.length("word")))
                 .alias("start"))
        .select("word", "freq", "start",
                F.explode(F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece),
                            F.length("word") - F.col("start") + 1)))
                 .alias("plen"))
        .select(F.expr("substring(word, start, plen)").alias("piece"),
                "freq")
        .groupBy("piece").agg(F.sum("freq").alias("count"))
    )
    chars = subs.where(F.length("piece") == 1)
    w = Window.orderBy(F.col("count").desc(), F.col("piece"))
    multis = (
        subs.where(F.length("piece") > 1)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= extra_pieces)
        .drop("rn")
    )
    vocab = chars.unionByName(multis)
    total = vocab.agg(F.sum("count").alias("tot"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece", "count",
        F.round(-F.log(F.col("count") / F.col("tot")) * 1e6, 0)
         .cast("long").alias("cost"),
    )


def unigram_segment(
    tokens: DataFrame,
    pieces: DataFrame,
    *,
    max_piece: int = 4,
    word_col: str = "word",
) -> DataFrame:
    """Viterbi segmentation of distinct words under a unigram-LM piece
    vocabulary: (word, pieces_str, n_pieces, cost) with the minimum-cost
    split; ties break on the lexicographically smallest piece sequence
    (tuple (cost, path) ordering — the SQL oracle reproduces it as a
    zero-padded-cost || '|' || path string argmin, the identical order
    because costs are fixed-width integers and the alphabet is ASCII).
    Words containing a character outside the vocabulary are unreachable
    and silently dropped (cannot happen when the vocabulary was seeded
    from the same corpus — all single chars are kept).

    Scale shape: the vocabulary is bounded by construction (chars +
    extra_pieces), so it broadcasts into an Arrow-batched pandas stage
    over the DISTINCT word table — each word segments once regardless of
    corpus occurrences, the same vocab-table pattern as bpe_encode."""
    vocab = {r["piece"]: r["cost"]
             for r in pieces.select("piece", "cost").collect()}
    schema = StructType([
        StructField("word", StringType()),
        StructField("pieces_str", StringType()),
        StructField("n_pieces", LongType()),
        StructField("cost", LongType()),
    ])

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for wd in pdf["word"]:
                n = len(wd)
                best: list = [None] * (n + 1)
                best[0] = (0, "")
                for i in range(1, n + 1):
                    cand = None
                    for j in range(max(0, i - max_piece), i):
                        if best[j] is None:
                            continue
                        c = vocab.get(wd[j:i])
                        if c is None:
                            continue
                        path = (best[j][1] + " " + wd[j:i]
                                if best[j][1] else wd[j:i])
                        key = (best[j][0] + c, path)
                        if cand is None or key < cand:
                            cand = key
                    best[i] = cand
                if best[n] is not None:
                    out.append((wd, best[n][1],
                                len(best[n][1].split(" ")), best[n][0]))
            yield pd.DataFrame(
                out, columns=["word", "pieces_str", "n_pieces", "cost"])

    return (
        tokens.select(F.col(word_col).alias("word")).distinct()
        .mapInPandas(seg, schema)
    )


def unigram_em_counts(
    docs: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    *,
    max_piece: int = 4,
    max_word_len: int = 12,
) -> DataFrame:
    """One EM count step of unigram-LM training: Viterbi-segment every
    distinct word (length <= max_word_len) under the current vocabulary,
    then re-count piece usage weighted by word frequency — the M-step
    statistics (piece, new_count) from which the next round's costs
    derive. Hard-EM (Viterbi counts, not full forward-backward), the
    standard distributed simplification; iterating segment->count->recost
    converges exactly like SentencePiece's EM loop shrunk to its
    deterministic core.

    Scale shape: segmentation runs once per distinct word (vocab table),
    counts come from one explode + groupBy with map-side partials."""
    words = (
        docs.select(F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("word") <= max_word_len)
    )
    seg = unigram_segment(words, pieces, max_piece=max_piece)
    return (
        seg.join(words, "word")
        .select(F.explode(F.split("pieces_str", " ")).alias("piece"), "freq")
        .groupBy("piece").agg(F.sum("freq").alias("new_count"))
    )


def train_unigram(
    docs: DataFrame,
    rounds: int = 2,
    text_col: str = "text",
    *,
    max_piece: int = 4,
    extra_pieces: int = 48,
    max_word_len: int = 12,
) -> DataFrame:
    """Full hard-EM unigram-LM training loop: seed vocabulary ->
    ``rounds`` x (Viterbi segment -> re-count -> re-cost -> prune).
    Multi-char pieces that no Viterbi path used are pruned (SentencePiece
    prunes lowest-impact pieces; the hard-EM analogue is exact:
    zero-count pieces contribute nothing to the likelihood). Single
    characters are never pruned (coverage guarantee) — an unused char
    keeps a count floor of 1. Hard EM never increases the total Viterbi
    cost of the corpus, so the loop converges; in practice 2-3 rounds
    settle (see test).

    Like train_bpe, per-round state materializes through
    ``localCheckpoint`` so the plan never grows with rounds. Iterative
    (per-round counts feed the next round's costs), so no single-SQL
    oracle — the two component gates (q_unigram_segment, q_unigram_em)
    pin each step exactly; this wrapper is pinned by the non-increasing
    corpus-cost test."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    vocab = unigram_seed_vocab(
        docs, text_col, max_piece=max_piece, extra_pieces=extra_pieces
    ).localCheckpoint()
    for _ in range(rounds):
        counts = unigram_em_counts(
            docs, vocab, text_col,
            max_piece=max_piece, max_word_len=max_word_len)
        chars = (
            vocab.where(F.length("piece") == 1).select("piece")
            .join(counts, "piece", "left")
            .select("piece",
                    F.coalesce("new_count", F.lit(1)).alias("count"))
        )
        multis = (
            vocab.where(F.length("piece") > 1).select("piece")
            .join(counts, "piece")  # inner join == prune zero-count
            .select("piece", F.col("new_count").alias("count"))
        )
        merged = chars.unionByName(multis)
        total = merged.agg(F.sum("count").alias("tot"))
        vocab = merged.crossJoin(F.broadcast(total)).select(
            "piece", "count",
            F.round(-F.log(F.col("count") / F.col("tot")) * 1e6, 0)
             .cast("long").alias("cost"),
        ).localCheckpoint()
    return vocab


# --- WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) ---------------
#
# Third tokenizer shape next to BPE and unigram-LM. Training is BPE's loop
# with a different objective: merge the pair maximizing the LIKELIHOOD gain
# score count(ab) / (count(a)*count(b)) (the public WordPiece trainer rule),
# not the raw pair count. Continuation symbols carry the literal "##"
# prefix from the start, so the learned pieces ARE the final vocabulary.
# Encoding is greedy longest-match-first (NOT merge replay): per word, take
# the longest vocab piece at the cursor ("##"-prefixed past position 0);
# any position with no match makes the whole word [UNK] — the BERT rule.

UNK = "[UNK]"


def _wp_syms(word: str) -> list:
    return [word[0]] + ["##" + c for c in word[1:]]


def _wp_merge_once(left: str, right: str, syms: list) -> list:
    out, i = [], 0
    merged = left + (right[2:] if right.startswith("##") else right)
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _wp_merge_table(spark, merges: list) -> DataFrame:
    """train_wordpiece's merge table: a merge drops the right piece's "##"
    continuation prefix."""
    from ..session import local_df

    return local_df(
        spark, [(r, l, rt, l + (rt[2:] if rt.startswith("##") else rt))
                for r, l, rt in merges], _MERGE_SCHEMA)


def train_wordpiece(docs: DataFrame, n_merges: int, text_col: str = "text",
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges; returns (rank, left, right,
    merged) like :func:`train_bpe`. Score = c(ab)/(c(a)·c(b)) with ties on
    (left, right) ascending. IEEE division is correctly rounded, so equal
    rationals compare equal in every engine — the double score + pair tie
    break is deterministic across the driver fast path, the distributed
    path and test replays.

    Scale shape is train_bpe's verbatim: one corpus pass to the word-freq
    table, then per-round = one pair groupBy + one symbol groupBy (for the
    denominator counts) + a single-row top-1 collect + an Arrow rewrite of
    the vocab table, materialized each round."""
    from ..session import LINEAR_MAX_ROWS, collect_if_small

    spark = docs.sparkSession
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="wp_")

    path = os.path.join(ckpt, "vocab_0")
    _word_vocab(docs, text_col).select(
        "word", "n",
        F.concat(
            F.slice(F.split(F.col("word"), ""), 1, 1),
            F.transform(
                F.slice(F.split(F.col("word"), ""), 2,
                        F.greatest(F.length("word") - 1, F.lit(0))),
                lambda c: F.concat(F.lit("##"), c)),
        ).alias("syms"),
    ).write.mode("overwrite").parquet(path)
    vocab = spark.read.parquet(path)

    merges: list[tuple[int, str, str]] = []
    # the footer count (no data scan) spares a vocab past the bound the probe
    rows = (collect_if_small(vocab.select("word", "n"), LINEAR_MAX_ROWS)
            if vocab.count() <= LINEAR_MAX_ROWS else None)
    if rows is not None:
        words = {r["word"]: (_wp_syms(r["word"]), int(r["n"]))
                 for r in rows}
        for r in range(n_merges):
            pc: dict = {}
            sc: dict = {}
            for syms, n in words.values():
                for s in syms:
                    sc[s] = sc.get(s, 0) + n
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + n
            if not pc:
                break
            (left, right), c = min(
                pc.items(),
                key=lambda kv: (-(kv[1] / (sc[kv[0][0]] * sc[kv[0][1]])),
                                kv[0]),
            )
            if c < 2:
                break
            merges.append((r, left, right))
            words = {
                w: (_wp_merge_once(left, right, syms), n)
                for w, (syms, n) in words.items()
            }
        return _wp_merge_table(spark, merges)

    for r in range(n_merges):
        pairs = vocab.select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(F.size("syms") - 1,
                                                  F.lit(0))),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        syms = (vocab.select("n", F.explode("syms").alias("s"))
                .groupBy("s").agg(F.sum("n").alias("sc")))
        top = (
            pairs.groupBy("p.l", "p.r").agg(F.sum("n").alias("c"))
            .join(syms.select(F.col("s").alias("l"),
                              F.col("sc").alias("lc")), "l")
            .join(syms.select(F.col("s").alias("r"),
                              F.col("sc").alias("rc")), "r")
            .orderBy(F.desc(F.col("c") / (F.col("lc") * F.col("rc"))),
                     F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((r, left, right))

        def rewrite(batches: Iterator[pd.DataFrame],
                    _l=left, _r=right) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["syms"] = [
                    _wp_merge_once(_l, _r, list(s)) for s in pdf["syms"]
                ]
                yield pdf

        nxt = vocab.mapInPandas(rewrite, _VOCAB_SCHEMA)
        path = os.path.join(ckpt, f"vocab_{(r + 1) % 2}")
        nxt.write.mode("overwrite").parquet(path)
        vocab = spark.read.parquet(path)

    return _wp_merge_table(spark, merges)


def wordpiece_segment(tokens: DataFrame, pieces: DataFrame,
                      word_col: str = "word") -> DataFrame:
    """Greedy longest-match-first WordPiece segmentation of DISTINCT
    words: (word, pieces_str, n_pieces, is_unk). ``pieces`` holds one
    string column ``piece``; continuation pieces carry their literal
    "##" prefix. A position with no matching piece makes the whole word
    [UNK] (the BERT rule) — is_unk flags it.

    Scale shape: the piece vocabulary is bounded by construction, so it
    broadcasts into an Arrow-batched pandas stage over the distinct-word
    table (the unigram_segment pattern); each word segments once
    regardless of corpus occurrences."""
    vocab = {r["piece"] for r in pieces.select("piece").collect()}
    max_raw = max((len(p) - 2 if p.startswith("##") else len(p))
                  for p in vocab) if vocab else 1
    schema = StructType([
        StructField("word", StringType()),
        StructField("pieces_str", StringType()),
        StructField("n_pieces", LongType()),
        StructField("is_unk", BooleanType()),
    ])

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for wd in pdf["word"]:
                n = len(wd)
                i, parts, failed = 0, [], False
                while i < n:
                    hit = None
                    for ln in range(min(max_raw, n - i), 0, -1):
                        cand = ("##" if i else "") + wd[i:i + ln]
                        if cand in vocab:
                            hit = (cand, ln)
                            break
                    if hit is None:
                        failed = True
                        break
                    parts.append(hit[0])
                    i += hit[1]
                if failed:
                    out.append((wd, UNK, 1, True))
                else:
                    out.append((wd, " ".join(parts), len(parts), False))
            yield pd.DataFrame(
                out, columns=["word", "pieces_str", "n_pieces", "is_unk"])

    return (tokens.select(F.col(word_col).alias("word")).distinct()
            .mapInPandas(seg, schema))


def wordpiece_encode(docs: DataFrame, pieces: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Encode documents with a WordPiece vocabulary: (id, n_words,
    n_wp_tokens, tokens) — per-word greedy segmentations concatenated in
    word order, [UNK] for unsegmentable words. Same
    segment-distinct-then-join shape as :func:`bpe_encode`."""
    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: F.length(t) > 0)
        ).alias("pos", "word"),
    )
    encoded = wordpiece_segment(words, pieces).select(
        "word", F.split("pieces_str", " ").alias("toks"))
    per_word = words.join(encoded, "word")
    agg = per_word.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("toks")).alias("n_wp_tokens"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                lambda x: x["toks"],
            )
        ).alias("tokens"),
    )
    return (
        docs.select(F.col(id_col))
        .join(agg, docs[id_col] == agg["id"], "left")
        .drop("id")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_wp_tokens", F.lit(0)).alias("n_wp_tokens"),
            F.coalesce("tokens", F.array().cast("array<string>"))
            .alias("tokens"),
        )
    )
