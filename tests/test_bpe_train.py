"""Distributed BPE training (operators/bpe_train.py) vs a pure-Python
textbook reference (Sennrich et al. 2016 greedy merge learning)."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.operators.bpe_train import (
    learn_bpe,
    merge_pair,
    word_counts,
)

CORPUS = [
    "low low low low low",
    "lower lower newer newer newer",
    "newest newest newest newest newest newest",
    "wider wider wider new new",
]


def _py_apply(syms, a, b):
    out = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _py_bpe(freqs: dict[str, int], num_merges: int):
    vocab = {w: list(w) for w in freqs}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + freqs[w]
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, n))
        vocab = {w: _py_apply(s, a, b) for w, s in vocab.items()}
    return merges, vocab


def _freqs():
    f: dict[str, int] = {}
    for line in CORPUS:
        for w in line.split():
            f[w] = f.get(w, 0) + 1
    return f


def _docs(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text string")


def test_word_counts(spark):
    got = {
        r["word"]: r["cnt"] for r in word_counts(_docs(spark)).collect()
    }
    assert got == _freqs()


def test_learn_bpe_matches_python_reference(spark):
    expected, _ = _py_bpe(_freqs(), 8)
    got = learn_bpe(word_counts(_docs(spark)), num_merges=8)
    assert got == expected


def test_merge_pair_single_pass_no_remerge(spark):
    df = spark.createDataFrame([(["a", "b", "b"],), (["a", "a", "a"],)], "s array<string>")
    out = [r["m"] for r in df.select(merge_pair(F.col("s"), "a", "b").alias("m")).collect()]
    assert out[0] == ["ab", "b"]   # fresh 'ab' does not chain with next 'b'
    assert out[1] == ["a", "a", "a"]
    df2 = spark.createDataFrame([(["a", "a", "a"],)], "s array<string>")
    assert df2.select(merge_pair(F.col("s"), "a", "a").alias("m")).first()["m"] == ["aa", "a"]


def test_tiebreak_is_lexicographic(spark):
    # "ba" and "cb" both appear 3 times -> ('b','a') wins over ('c','b')
    docs = spark.createDataFrame(
        [("ba ba ba cb cb cb",)], "text string"
    )
    got = learn_bpe(word_counts(docs), num_merges=1)
    assert got == [("b", "a", 3)]


def test_single_char_words_learn_nothing(spark):
    docs = spark.createDataFrame([("a b c a b",)], "text string")
    assert learn_bpe(word_counts(docs), 5) == []
