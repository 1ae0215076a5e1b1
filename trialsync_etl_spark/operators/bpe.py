"""Exact byte-pair-encoding token counts (beyond-reference op).

``textstats.bpe_token_count`` is the JVM regex ESTIMATE (pre-token
count: a lower bound with a stable ratio); this module supplies the
EXACT count under a real merge table in the public GPT-2 ``merges.txt``
format — one merged pair per line, rank = line order — so packing
(`operators/packing.py`) and token-budget mixing
(`sampling.token_budget_fractions`) can price blocks in true tokens.

Algorithm (Sennrich et al. 2016 / the GPT-2 encoder): split the text
into pre-tokens with the shared ``BPE_TOKEN_RE``, map each pre-token's
UTF-8 bytes through the FULL published GPT-2 byte→unicode table
(:func:`bytes_to_unicode` — space→'Ġ', newline→'Ċ', 'é'→'Ã©'; a
reversible bijection with no whitespace on the symbol side, so the
space-separated merges.txt format is lossless over arbitrary text),
then repeatedly merge the adjacent symbol pair with the LOWEST merge
rank until no adjacent pair is in the table. Pointing ``merges_path``
at the real published GPT-2 merges file therefore tokenizes non-ASCII
text faithfully (the r13 leading-space-only map did not).

Spark shape: the merge loop is inherently per-string and iterative —
a bounded Arrow stage (``mapInPandas``) with the rank table broadcast
once per executor, never a row-at-a-time Python UDF. Everything around
it (packing windows, budget aggregates) stays JVM. The committed default
table (``data/bpe_merges.txt``) is trained by
``scripts/train_bpe_merges.py`` on the language-ID fixture's English
sentences — fixture-scale on purpose; a production deployment points
``merges_path`` at the published GPT-2 file.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trialsync_etl_spark.operators.textstats import BPE_TOKEN_RE  # noqa: F401
from trialsync_etl_spark.storage import atomic_write_text

#: the EXACT path's pre-tokenizer: a Python-re rendering of GPT-2's
#: FULL published pattern ('s|'t|… | ?\p{L}+ | ?\p{N}+ |
#: ?[^\s\p{L}\p{N}]+ | \s+(?!\S) | \s+) — [^\W\d_] is the stdlib-re
#: spelling of \p{L}, so non-ASCII letters stay in their letter run
#: ("café" is ONE pre-token; under the shared JVM ESTIMATE regex
#: textstats.BPE_TOKEN_RE, whose classes both engines replay in
#: oracles, that estimate remains the documented lower bound). The two
#: trailing whitespace alternatives are GPT-2's: an interior run keeps
#: its LAST space attached to the following word (the lookahead) and
#: the rest becomes its own pre-token; byte_encode renders such runs as
#: 'Ġ'/'Ċ' symbols, so whitespace-heavy text (code, markdown) counts
#: faithfully instead of dropping every multi-space/newline run (the
#: r14 pattern's gap).
EXACT_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+"
    r"|\s+(?!\S)|\s+"
)

DEFAULT_MERGES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "data", "bpe_merges.txt"
)


def load_merges(path: str | None = None) -> dict[tuple[str, str], int]:
    """The merge-rank table from a GPT-2-format ``merges.txt``: one
    'left right' pair per line (blank lines and '#version' headers
    skipped), rank = position. KB-to-MB scale — always broadcastable."""
    ranks: dict[tuple[str, str], int] = {}
    with open(path or DEFAULT_MERGES_PATH) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            left, right = line.split(" ")
            ranks[(left, right)] = len(ranks)
    if not ranks:
        raise ValueError(f"merges file {path!r} has no merge rules")
    return ranks


def bpe_encode(pretoken: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """The classic merge loop: start from characters, repeatedly merge
    the adjacent pair with the lowest rank (ALL its occurrences, left to
    right) until no adjacent pair is ranked."""
    symbols = list(pretoken)
    while len(symbols) > 1:
        best_rank, best_pair = None, None
        for pair in zip(symbols, symbols[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        merged, i = [], 0
        while i < len(symbols):
            if (
                i < len(symbols) - 1
                and (symbols[i], symbols[i + 1]) == best_pair
            ):
                merged.append(symbols[i] + symbols[i + 1])
                i += 2
            else:
                merged.append(symbols[i])
                i += 1
        symbols = merged
    return symbols


def bytes_to_unicode() -> dict[int, str]:
    """The published GPT-2 byte→unicode table (Radford et al. 2019,
    ``encoder.py``): every printable latin-1 byte maps to itself, the
    remaining 68 bytes to U+0100.. in order — a reversible bijection
    with NO whitespace/control characters on the unicode side, which is
    what keeps a merges.txt space-separated and lossless over arbitrary
    UTF-8. Space (0x20) lands on 'Ġ', newline (0x0A) on 'Ċ'; multi-byte
    UTF-8 sequences become multi-SYMBOL sequences ('é' → 'Ã©'), exactly
    how the published GPT-2 merges file spells them."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


BYTE_ENCODER = bytes_to_unicode()
BYTE_DECODER = {c: b for b, c in BYTE_ENCODER.items()}


def byte_encode(pretoken: str) -> str:
    """A pre-token's symbol string: UTF-8 bytes through the FULL GPT-2
    byte map (r13 mapped only the leading space — a real published
    merges.txt over non-ASCII text mis-merged; the r14 map makes the
    symbol space byte-faithful for any input)."""
    return "".join(BYTE_ENCODER[b] for b in pretoken.encode("utf-8"))


def byte_decode(symbols: str) -> str:
    """Inverse of :func:`byte_encode` (lossless round-trip)."""
    return bytes(BYTE_DECODER[c] for c in symbols).decode("utf-8")


def count_text(text: str, ranks: dict[tuple[str, str], int]) -> int:
    """Exact BPE token count of one document."""
    return sum(
        len(bpe_encode(byte_encode(t), ranks))
        for t in re.findall(EXACT_PRETOKEN_RE, text)
    )


def exact_bpe_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens_exact",
    merges_path: str | None = None,
) -> DataFrame:
    """``docs`` plus the exact BPE token count — ONE bounded Arrow stage;
    the rank table ships to executors via a Spark broadcast (loaded once
    on the driver, never re-read per partition)."""
    ranks_bc = docs.sparkSession.sparkContext.broadcast(
        load_merges(merges_path)
    )
    import pandas as pd

    schema = T.StructType(
        list(docs.schema) + [T.StructField(out_col, T.LongType())]
    )

    def count(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        ranks = ranks_bc.value
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                count_text(t if t is not None else "", ranks)
                for t in pdf[text_col]
            ]
            yield pdf

    return docs.mapInPandas(count, schema=schema)


def train_bpe_merges(
    texts: list[str], n_merges: int = 300
) -> list[tuple[str, str]]:
    """The public BPE trainer (Sennrich et al. 2016) at fixture scale,
    driver-side: count pre-token frequencies, then greedily merge the
    most frequent adjacent pair ``n_merges`` times (ties broken
    lexicographically — deterministic: re-training the committed fixture
    reproduces the committed table byte-for-byte). Training a production
    table is a corpus-scale job that belongs offline; this trainer
    exists so the committed fixture table is reproducible from the repo."""
    words: dict[tuple[str, ...], int] = {}
    for text in texts:
        for tok in re.findall(EXACT_PRETOKEN_RE, text):
            key = tuple(byte_encode(tok))
            words[key] = words.get(key, 0) + 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for sym, freq in words.items():
            for pair in zip(sym, sym[1:]):
                pair_counts[pair] = pair_counts.get(pair, 0) + freq
        if not pair_counts:
            break
        # deterministic tie-break: highest count, lexicographically
        # smallest pair among the tied
        best_count = max(pair_counts.values())
        best = min(p for p, c in pair_counts.items() if c == best_count)
        if best_count < 2:
            break
        merges.append(best)
        merged_sym = best[0] + best[1]
        new_words: dict[tuple[str, ...], int] = {}
        for sym, freq in words.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and (sym[i], sym[i + 1]) == best:
                    out.append(merged_sym)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + freq
        words = new_words
    return merges


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    atomic_write_text(
        path,
        "#version: trialsync-fixture-bpe\n"
        + "".join(f"{left} {right}\n" for left, right in merges),
    )
