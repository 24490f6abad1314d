"""BPE merge learning (Sennrich et al. 2016, arXiv:1508.07909).

Learns the first ``n_merges`` byte-pair-encoding merges over a corpus —
the vocabulary-building step of an LLM data pipeline (the reference has
no tokenizer training; this belongs to the training-data extension
surface alongside token counting in plans/surface.py
text_bpe_token_count).

The corpus compresses to (distinct word, frequency) ONCE in Spark — the
only corpus-sized shuffle, and the only Spark action of learning. That
vocabulary-sized table is collected, and the greedy loop runs on the
driver: count adjacent symbol pairs weighted by word frequency, take the
top pair, apply its merge to every word. Each merge needs its
predecessor's winner on the driver anyway, so a per-merge Spark job
would only add a fixed action cost (docs/SCALE.md §An action has a fixed
cost) per step; the driver's working set is the distinct-word table.

Merge application is EXACT greedy left-to-right BPE, expressed as plain
string algebra so a SQL oracle can replay it: a word's segmentation is a
DOUBLE-space-delimited symbol string with double-space sentinels
("  l  o  w  "), and the merge (l, r) is ONE
``replace(s, " l  r ", " lr ")``. The match consumes only the inner
space of each flanking double delimiter, so after a match the scan
resumes with the next token's leading space intact — consecutive
occurrences ("a b a b") and odd self-runs ("a a a a a") both segment
exactly as a greedy scanner would ([ab][ab]; [aa][aa][a]). A
single-space encoding cannot do this: its replace consumes the shared
delimiter and skips the true next pair (the "aaaaa" -> [aa][a][aa]
mis-segmentation), which is why the delimiter is doubled.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_word_freqs(
    docs: DataFrame, text_col: str = "text", token_split: str = "[^a-z0-9]+"
) -> DataFrame:
    """(word, freq) over the lowercased corpus — the one corpus-sized
    aggregation of the trainer."""
    return (
        docs.select(F.explode(F.split(F.lower(text_col), token_split)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    token_split: str = "[^a-z0-9]+",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges; returns one row per merge:
    (step, merge_left, merge_right, pair_count), step starting at 1 in
    learning order. Ties on pair_count break by (merge_left, merge_right)
    ascending — Python's code-point order, which equals Spark's and
    DuckDB's binary UTF-8 string order.

    One Spark action: the (encoded word, freq) vocabulary is collected
    and the merges are learned on the driver, which therefore holds the
    distinct-word table (vocabulary-sized, not corpus-sized)."""
    if n_merges < 1:
        raise ValueError("bpe_learn_merges: n_merges must be >= 1")
    vocab = corpus_word_freqs(docs, text_col, token_split).select(
        # "  h  e  l  l  o  " — double-space delimiters (see module doc)
        F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  ")).alias("s"),
        "freq",
    )
    words = [(r["s"], r["freq"]) for r in vocab.collect()]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for s, freq in words:
            syms = re.split(" +", s.strip(" "))
            for pair in zip(syms, syms[1:]):
                pairs[pair] += freq
        if not pairs:
            break  # corpus exhausted (every word is a single symbol)
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, left, right, cnt))
        old, new = f" {left}  {right} ", f" {left}{right} "
        words = [(s.replace(old, new), freq) for s, freq in words]
    # LocalRelation, not createDataFrame: the pickled-RDD result frame
    # costs a Python-worker round-trip per downstream task on every
    # action over what is an n_merges-row constant table (see
    # io.local_values_df; same fix as mmr_select).
    from cam_etl_spark.io import local_values_df

    return local_values_df(
        docs.sparkSession,
        merges,
        "step int, merge_left string, merge_right string, pair_count long",
    )


def bpe_apply(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    token_split: str = "[^a-z0-9]+",
) -> DataFrame:
    """Apply a learned merge table (step-ordered rows of
    (merge_left, merge_right)) to the corpus — the TOKENIZE step that
    follows ``bpe_learn_merges`` in an LLM data pipeline. Returns the
    corpus token histogram (token, n_occurrences) under the learned
    vocabulary.

    Work stays vocabulary-sized: the corpus compresses to (distinct word,
    freq) once, each merge is ONE exact-greedy double-space replace over
    that word table (same delimiter discipline as learning — see module
    doc), and the histogram is an explode + sum(freq). The merge table is
    collected driver-side: it is n_merges rows by construction (the
    learned vocabulary, broadcast-scale at any corpus size)."""
    rules = [
        (r["merge_left"], r["merge_right"])
        for r in merges.orderBy("step").select("merge_left", "merge_right").collect()
    ]
    words = corpus_word_freqs(docs, text_col, token_split)
    s = F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  "))
    for left, right in rules:
        s = F.replace(s, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} "))
    return (
        words.select(F.split(F.trim(s), " +").alias("toks"), "freq")
        .select(F.explode("toks").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
    )
