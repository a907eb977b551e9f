"""TF-IDF / n-gram feature pipelines (SURVEY.md §7.6 text-analysis
extension) via ``pyspark.ml.feature`` — the scale path for
vocabulary-free text features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .localrel import collect_if_small, literal_df

__all__ = ["tfidf_features", "top_terms_by_tfidf", "bpe_train_merges"]


def tfidf_features(
    docs: DataFrame, *, text_col: str = "text", num_features: int = 1 << 12
) -> DataFrame:
    """Tokenizer → HashingTF → IDF: sparse TF-IDF vectors per document.
    HashingTF needs no vocabulary broadcast (hash-based) — the feature
    extractor that still works at 100 TB."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    toks = Tokenizer(inputCol=text_col, outputCol="_tokens").transform(docs)
    tf = HashingTF(
        inputCol="_tokens", outputCol="_tf", numFeatures=num_features
    ).transform(toks)
    idf_model = IDF(inputCol="_tf", outputCol="tfidf").fit(tf)
    return idf_model.transform(tf).drop("_tokens", "_tf")


def top_terms_by_tfidf(docs: DataFrame, *, k: int = 10, text_col: str = "text") -> DataFrame:
    """Explicit (non-hashed) TF-IDF over the actual vocabulary, fully
    relational: tf from explode+count, df from distinct doc counts, idf
    = ln((N+1)/(df+1))+1, then top-k terms per corpus by summed tf-idf.
    Deterministic arithmetic — unlike HashingTF this is oracle-able."""
    from ..functions.text import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    n_docs = docs.count()
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = df_.withColumn(
        "idf", F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1
    )
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.col("tf") * F.col("idf")
    )
    return (
        scored.groupBy("term")
        .agg(F.round(F.sum("tfidf"), 6).alias("total_tfidf"))
        .orderBy(F.desc("total_tfidf"), "term")
        .limit(k)
    )


def bpe_train_merges(
    docs: DataFrame,
    *,
    rounds: int = 10,
    text_col: str = "text",
    eow: str | None = "</w>",
) -> tuple[DataFrame, DataFrame]:
    """TRAIN a BPE merge table — the tokenizer-prep job (Sennrich et
    al. 2016), as a relational loop like PageRank/CC: ``rounds``
    iterations of (count adjacent symbol pairs weighted by word
    frequency → merge the argmax pair everywhere).

    Returns ``(merges, vocab)``: the merge table
    (round, left, right, merged, pair_count) and the final symbolized
    word-frequency table (word, freq, syms).

    Relational formulation:
    - the corpus collapses ONCE into the word-frequency table (Heaps'
      law: ≪ corpus size — this is the only scan of the data);
    - per round, pair counts are one explode + grouped SUM over the
      vocab (a shuffle over vocab-sized data), the argmax is a
      ``limit(1).collect()`` — ONE row of driver state per round, with
      a deterministic tie-break (count desc, left asc, right asc);
    - the merge itself is a map-only left-fold over each symbol array
      (greedy leftmost non-overlapping, the BPE rule: fold can never
      re-merge its own output because ``merged != left`` by
      construction), ``localCheckpoint`` per round to keep lineage flat
      (the CC/PageRank pattern, ``operators/graph.py:17``).

    End-of-word marker: with ``eow`` set (default ``"</w>"``) the
    LAST character of each word is fused with the marker before
    training — ``"low" → [l, o, w</w>]`` — the subword-nmt
    (Sennrich reference implementation) formulation, so trained merges
    distinguish word-final from word-internal contexts and match
    production tokenizers.  The symbol COUNT per word is unchanged
    (marker fused, not appended), so every downstream token-cost
    invariant (1 ≤ n_syms ≤ len(word)) still holds.  ``eow=None``
    trains plain character-level merges.  Both modes are
    differential-tested against a driver-side pure-Python reference in
    ``tests/test_iterative_ops.py``."""
    from ..functions.text import tokens

    word_freq = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.split(F.col("w"), "")
    if eow is not None:
        n_ch = F.size(chars)
        syms0 = F.transform(
            chars,
            lambda c, i: F.when(
                i == n_ch - 1, F.concat(c, F.lit(eow))
            ).otherwise(c),
        )
    else:
        syms0 = chars
    vocab = word_freq.select(
        "w", "freq", syms0.alias("syms")
    ).localCheckpoint(eager=True)

    spark = docs.sparkSession

    # a small vocab is collected once and merged on the driver, the
    # way subword-nmt/HuggingFace trainers iterate; same rows as the loop
    words = collect_if_small(vocab)
    if words is not None:
        return _bpe_train_merges_driver(spark, words, rounds=rounds)

    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        pair = F.zip_with(
            F.slice(F.col("syms"), 1, F.size("syms") - 1),
            F.slice(F.col("syms"), 2, F.size("syms") - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
        m = l + r
        merges.append((rnd, l, r, m, cnt))
        lc, rc, mc = F.lit(l), F.lit(r), F.lit(m)
        merged_syms = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lc)
                & (s == rc),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mc)
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.select(
            "w", "freq", merged_syms.alias("syms")
        ).localCheckpoint(eager=True)

    merges_df = literal_df(
        spark,
        merges,
        "round int, left string, right string, merged string, pair_count long",
    )
    return merges_df, vocab


def _bpe_train_merges_driver(
    spark, rows, *, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Driver-side merge loop over collected (w, freq, syms) rows —
    the small-vocabulary body of :func:`bpe_train_merges`.  Every step
    mirrors the relational loop exactly: freq-weighted adjacent-pair
    counts, the (count desc, left asc, right asc) tie-break (Python
    str order == UTF-8 binary order == Spark string order) and the
    greedy leftmost non-overlapping fold.  Both returned frames are
    literal relations, so downstream joins and windows see the same
    bounded tables the checkpoint path produced."""
    words: list[tuple[str, int, list[str]]] = [
        (r.w, int(r.freq), list(r.syms)) for r in rows
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for _w, freq, syms in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        m = l + r
        merges.append((rnd, l, r, m, int(cnt)))
        new_words = []
        for w, freq, syms in words:
            out: list[str] = []
            for s in syms:
                # greedy leftmost non-overlapping, identical to the
                # relational fold: merge iff the accumulator's last
                # symbol is `l` and the incoming symbol is `r`
                if out and out[-1] == l and s == r:
                    out[-1] = m
                else:
                    out.append(s)
            new_words.append((w, freq, out))
        words = new_words
    merges_df = literal_df(
        spark,
        merges,
        "round int, left string, right string, merged string, pair_count long",
    )
    vocab_df = literal_df(
        spark,
        words,
        "w string, freq long, syms array<string>",
    )
    return merges_df, vocab_df
