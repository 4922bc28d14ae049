"""char_wb n-gram extraction, sklearn-exact.

The reference pins TfidfVectorizer(analyzer="char_wb", ngram_range=(3,3),
min_df=2) at candidate_generator.py:119-122 / ann_kb.py:97-105. sklearn's
char_wb semantics (public sklearn source, CountVectorizer._char_wb_ngrams):

  * lowercase the document (default preprocessor),
  * split on any whitespace (str.split()),
  * pad each word with ONE space on each side,
  * emit every n-gram of the padded word; a padded word shorter than n is
    emitted once whole (cannot happen for n=3 since padded len >= 3).

tf = raw in-document ngram count; idf = ln((1+N)/(1+df)) + 1 (smooth_idf);
rows L2-normalized. Those aggregations live in vectorize/tfidf.py — this
module is only the analyzer: `char_wb_ngrams` is the Python reference and
`char_wb_ngrams_col` the pure-JVM column expression the vectorizer runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def char_wb_ngrams(text: str, n: int = 3) -> list[str]:
    """sklearn-exact char_wb n-grams of one document (with repetition)."""
    if text is None:
        return []
    out: list[str] = []
    for w in text.lower().split():
        w = " " + w + " "
        w_len = len(w)
        if w_len < n:
            out.append(w)
            continue
        for offset in range(w_len - n + 1):
            out.append(w[offset : offset + n])
    return out


def char_wb_ngrams_col(text_col, n: int = 3):
    """char_wb n-grams as a PURE-JVM column expression: lowercase, split on
    whitespace, pad each word with one space, emit every n-gram (with
    repetition). No python worker, no Arrow transfer — the whole vectorizer
    analyze stage stays inside whole-stage codegen. Identical output to
    `char_wb_ngrams` (sklearn semantics) for any n <= 3 input: a padded word
    is always >= 3 chars, so the short-word emit-whole branch is
    unreachable.

    (?U) = Java UNICODE_CHARACTER_CLASS, so \\s matches the same unicode
    whitespace set Python's str.split() splits on (NBSP, thin space, ...);
    without it Java's ASCII \\s would vectorize U+00A0-bearing text
    differently from the sklearn reference."""
    # array_remove, not filter(lambda): element-identical "" removal, but
    # a codegen expression instead of a per-element interpreted lambda
    words = F.array_remove(F.split(F.lower(text_col), r"(?U)\s+"), "")

    def word_grams(w):
        pad = F.concat(F.lit(" "), w, F.lit(" "))
        return F.transform(
            F.sequence(F.lit(1), F.length(pad) - (n - 1)),
            lambda i: pad.substr(i, F.lit(n)),
        )

    return F.flatten(F.transform(words, word_grams))


def with_ngrams(df, text_col: str = "text", out_col: str = "ngrams"):
    """Attach the char_wb 3-gram array column (JVM expression)."""
    return df.withColumn(out_col, char_wb_ngrams_col(F.col(text_col)))
