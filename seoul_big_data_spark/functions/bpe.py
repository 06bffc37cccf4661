"""Subword (BPE-vocab) tokenization — the token-counting unit a training-
data pipeline actually bills by (whitespace tokens misestimate it; VERDICT
r8 #5).

Scheme: greedy longest-match encoding of whitespace-pre-tokenized words
against the frozen vocabulary in ``bpe_vocab.json`` (trained once by
``tools/gen_bpe_vocab.py`` — classic frequency-weighted BPE merges; merge
ORDER is not needed at encode time for the longest-match scheme). Any
character outside the vocab falls back to itself as a single-char token, so
encoding is total.

Scale shape (the dictionary-encode pattern): the per-word encoder runs over
the DISTINCT-word table — for a 100 TB corpus that is the vocabulary, a
table millions of rows small, not the corpus — via an Arrow-batched
mapInPandas; the corpus-sized work is an equi-join of the exploded words
against that encoded dictionary plus combinable aggregates. The Python cost
is one C-speed regex scan per DISTINCT word (alternation ordered by length
descending = longest-match-first), never per occurrence.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VOCAB_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bpe_vocab.json")


def load_vocab() -> list[str]:
    with open(_VOCAB_PATH) as fh:
        return json.load(fh)["vocab"]


def _pattern(vocab: list[str]) -> re.Pattern:
    # Python alternation takes the FIRST matching branch at each position;
    # ordering branches by length descending makes that the LONGEST match.
    # Same-length distinct tokens cannot match the same position, so the
    # within-length lexicographic tie-break never fires. The (?s:.) tail is
    # the single-char fallback for out-of-vocab characters.
    alts = sorted(vocab, key=lambda t: (-len(t), t))
    return re.compile("|".join(re.escape(t) for t in alts) + "|(?s:.)")


def encode_word(word: str, pat: re.Pattern) -> list[str]:
    """Greedy longest-match token pieces of one word (total: every char is
    covered — vocab tokens first, single-char fallback otherwise)."""
    return pat.findall(word)


def piece_string(tokens: list[str]) -> str:
    """Length-prefixed serialization of one word's token pieces, with a
    trailing word terminator — injective over token SEQUENCES (``2:ab`` vs
    ``1:a1:b`` disambiguate alignment; ``/`` disambiguates word
    boundaries), so the md5 over a document's concatenated piece strings is
    a fingerprint of the exact tokenization. Mirrored verbatim in the
    DuckDB oracle (q_text.py::text_bpe_tokenize)."""
    return "".join(f"{len(t)}:{t}" for t in tokens) + "/"


def encode_words(words: DataFrame, word_col: str = "word") -> DataFrame:
    """Encode a DISTINCT-word frame → (word, n_toks, enc). Arrow-batched;
    the regex compiles once per executor python worker."""
    vocab = load_vocab()
    schema = T.StructType(
        [
            T.StructField(word_col, T.StringType()),
            T.StructField("n_toks", T.LongType()),
            T.StructField("enc", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat = _pattern(vocab)
        for pdf in batches:
            toks = [pat.findall(w) for w in pdf[word_col].astype(str)]
            yield pd.DataFrame(
                {
                    word_col: pdf[word_col],
                    "n_toks": [len(t) for t in toks],
                    "enc": [piece_string(t) for t in toks],
                }
            )

    return words.mapInPandas(run, schema)


def chars_of(word_col: str) -> F.Column:
    """Character-split expression: word → array of single chars.
    ``(?!^)`` splits at every inter-character boundary (and the string
    end — the empty tail is filtered), with no escaping concerns for
    arbitrary word content."""
    return F.filter(
        F.split(F.col(word_col), r"(?!^)"), lambda t: t != F.lit("")
    )


def _apply_merge(toks: F.Column, a: str, b: str) -> F.Column:
    """One BPE merge applied to a token array — the greedy LEFT-TO-RIGHT
    single-pass scan (a merged pair's output never re-merges with the next
    token within the same step), as a pure fold expression: append each
    token unless it is ``b`` and the accumulator's last element is an
    UNCONSUMED ``a``, in which case replace that last element with ``a+b``.
    Identical to the reference trainer's j-loop (tools/gen_bpe_vocab.py)
    and to the oracle's recursive pointer-chase — pinned against both in
    tests/test_bpe_train.py.

    Why not string replace: left-to-right non-overlapping REPLACE over a
    separator-joined string diverges from the scan on runs — in
    [a,a,a,a,a] the replace's second match lands on tokens (3,4) because
    the first consumed the separator before token 2, where the scan merges
    (2,3) — so the fold is the only string-free formulation that preserves
    merge POSITIONS, which later steps' pair counts depend on."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train_merges(
    words: DataFrame,
    n_merges: int = 40,
    word_col: str = "w",
    freq_col: str = "f",
) -> list[tuple[int, str, str, str, int]]:
    """Distributed BPE vocabulary training (VERDICT r9 #4): the classic
    frequency-weighted merge loop as an iterative DataFrame job over the
    DISTINCT-word table. Returns ``[(step, a, b, merged, count), ...]``
    (1-based steps), stopping early when the best pair's count drops
    below 2 — byte-compatible with the pinned single-node twin
    ``tools/gen_bpe_vocab.py::train`` (asserted in tests/test_bpe_train.py,
    including byte-equality of the derived vocab with the committed
    ``bpe_vocab.json`` on its training corpus).

    Scale shape (the Lloyd-iteration pattern): per merge step, ONE
    combinable aggregate over the vocabulary-grain table — adjacent-pair
    counts weighted by word frequency, map-side partial sums, shuffle
    carries (pairs × tasks), never the corpus — then a driver argmin of a
    single collected row (deterministic (-count, a, b) tie-break; driver
    state is ≤ n_merges pair rows, bounded by construction) and one narrow
    fold projection applying the merge. Lineage is truncated each step
    (localCheckpoint) so the plan stays O(1) deep regardless of n_merges.
    At 100 TB the distinct-word table is ~10⁸ rows (the corpus VOCABULARY);
    each step is a short aggregate job like one k-means iteration; the
    corpus itself is touched once, by the word-count producer upstream.
    """
    toks = (
        words.filter(F.length(word_col) > 0)
        .select(
            F.col(freq_col).cast("long").alias("_f"),
            chars_of(word_col).alias("_t"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pair_arr = F.when(
            F.size("_t") > 1,
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - 2),
                lambda i: F.struct(
                    F.get("_t", i).alias("a"), F.get("_t", i + 1).alias("b")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            toks.select("_f", F.explode(pair_arr).alias("_p"))
            .groupBy("_p.a", "_p.b")
            .agg(F.sum("_f").alias("_cnt"))
            # driver argmin, 1 row: struct min is lexicographic, so
            # (-count, a, b) is exactly the twin's tie-break
            .agg(F.min(F.struct((-F.col("_cnt")).alias("nc"), "a", "b")).alias("m"))
            .collect()[0]["m"]
        )
        if best is None or -best["nc"] < 2:
            break
        a, b, cnt = best["a"], best["b"], int(-best["nc"])
        merges.append((step, a, b, a + b, cnt))
        toks = toks.select("_f", _apply_merge(F.col("_t"), a, b).alias("_t"))
        # lazy: materialized by the NEXT step's aggregate job, so each step
        # runs ONE job instead of checkpoint-then-aggregate running two
        toks = toks.localCheckpoint(eager=False)
    return merges


def bpe_train_vocab(
    words: DataFrame,
    n_merges: int = 40,
    word_col: str = "w",
    freq_col: str = "f",
) -> list[str]:
    """Full learned vocabulary: the corpus character set ∪ the merged
    tokens, sorted — the exact artifact shape ``bpe_vocab.json`` freezes
    (single-char alphabet collected once; bounded by the character set)."""
    merges = bpe_train_merges(words, n_merges, word_col, freq_col)
    chars = [
        r["c"]
        for r in words.filter(F.length(word_col) > 0)
        .select(F.explode(chars_of(word_col)).alias("c"))
        .distinct()
        .collect()
    ]
    return sorted(set(chars) | {m for _, _, _, m, _ in merges})
