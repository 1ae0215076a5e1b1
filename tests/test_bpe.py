"""Exact BPE token counts (operators/bpe.py): the merge loop against an
INDEPENDENT apply-merges-in-rank-order reference, the committed fixture
table's reproducibility, the Arrow counting stage, and exact packing."""

from __future__ import annotations

import json
import re

import pytest

from trialsync_etl_spark.operators import bpe
from trialsync_etl_spark.operators.langid import FIXTURE_PATH
from trialsync_etl_spark.operators.bpe import EXACT_PRETOKEN_RE


def _reference_encode(pretoken: str, merges: list[tuple[str, str]]) -> list[str]:
    """Independent formulation: apply each merge rule over the symbol
    sequence IN RANK ORDER (one full pass per rule, left to right) —
    provably equivalent to the engine's repeatedly-merge-the-min-rank
    loop, but structurally different code."""
    symbols = list(pretoken)
    for pair in merges:
        out, i = [], 0
        while i < len(symbols):
            if i < len(symbols) - 1 and (symbols[i], symbols[i + 1]) == pair:
                out.append(symbols[i] + symbols[i + 1])
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols


def _merges_list(path=None) -> list[tuple[str, str]]:
    ranks = bpe.load_merges(path)
    return [p for p, _ in sorted(ranks.items(), key=lambda kv: kv[1])]


def test_encode_matches_rank_order_reference_on_fixture():
    """Every pre-token of every fixture sentence (all 12 languages /
    4 scripts — OOV characters exercise the no-merge path) encodes
    identically under the min-rank loop and the rank-order reference."""
    ranks = bpe.load_merges()
    merges = _merges_list()
    rows = json.load(open(FIXTURE_PATH))["rows"]
    n_checked = 0
    for r in rows:
        for tok in re.findall(EXACT_PRETOKEN_RE, r["text"]):
            t = bpe.byte_encode(tok)
            assert bpe.bpe_encode(t, ranks) == _reference_encode(t, merges)
            n_checked += 1
    assert n_checked > 1000
    # reconstruction invariant — concatenating the tokens of a
    # pre-token reproduces its SYMBOL string exactly, and byte_decode
    # recovers the original pre-token (BPE never loses bytes)
    for r in rows[:20]:
        for tok in re.findall(EXACT_PRETOKEN_RE, r["text"]):
            t = bpe.byte_encode(tok)
            assert "".join(bpe.bpe_encode(t, ranks)) == t
            assert bpe.byte_decode(t) == tok


def test_byte_map_is_the_published_gpt2_bijection():
    """bytes_to_unicode: a 256-element bijection, identity on printable
    latin-1, the documented markers (space→'Ġ', newline→'Ċ'), the
    remaining bytes on U+0100.. IN BYTE ORDER with no whitespace on the
    symbol side; byte_encode spells multi-byte UTF-8 the way the
    published GPT-2 merges file does ('é'→'Ã©') and round-trips any
    script losslessly."""
    enc = bpe.BYTE_ENCODER
    assert len(enc) == 256
    assert len(set(enc.values())) == 256
    for b in range(ord("!"), ord("~") + 1):
        assert enc[b] == chr(b)
    assert enc[ord(" ")] == "Ġ" and enc[ord("\n")] == "Ċ"
    assert enc[ord("\t")] == "ĉ"
    # the shifted bytes land on 256.. in ascending byte order
    shifted = [b for b in range(256) if ord(enc[b]) >= 256]
    assert [ord(enc[b]) for b in shifted] == [
        256 + i for i in range(len(shifted))
    ]
    assert all(not enc[b].isspace() for b in range(256))
    assert bpe.byte_encode("é") == "Ã©"
    for text in ("héllo wörld", "Привет мир", "你好世界", "مرحبا", "こんにちは"):
        assert bpe.byte_decode(bpe.byte_encode(text)) == text


def test_exact_pretokenizer_is_unicode_faithful():
    r"""The exact path's pre-tokenizer renders GPT-2's published \p{L}
    classes: non-ASCII letters stay in their letter run ('café' is ONE
    pre-token, Han runs keep adjacent ASCII letters), contractions and
    digit runs split as published."""
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "café life") == [
        "café", " life"
    ]
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "abc你好 x") == [
        "abc你好", " x"
    ]
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "it's 42%!") == [
        "it", "'s", " 42", "%!"
    ]
    # GPT-2's whitespace alternatives: an interior multi-space run keeps
    # its last space on the next word, the rest is its own pre-token; a
    # trailing run and newlines are pre-tokens too (not dropped)
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "a  b") == ["a", " ", " b"]
    # (the published pattern splits a pre-word newline run one-by-one:
    # \s+(?!\S) backtracks to leave the final whitespace char for the
    # plain \s+ fallback — same as the reference GPT-2 tokenizer)
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "a\n\nb") == ["a", "\n", "\n", "b"]
    assert re.findall(bpe.EXACT_PRETOKEN_RE, "a ") == ["a", " "]
    # whitespace pre-tokens map through the byte table and COUNT: with
    # no whitespace merges each run costs one token per byte
    assert bpe.byte_encode("\n\n") == "ĊĊ"
    assert bpe.count_text("a  b", {("x", "y"): 0}) == 4
    assert bpe.count_text("a\n\nb", {("x", "y"): 0}) == 4
    # one merged-pair table spanning the accent: café counts as ONE
    # token once fully merged (impossible under an ASCII pre-tokenizer,
    # which splits 'é' into its own pre-token)
    ranks = {("Ã", "©"): 0, ("c", "a"): 1, ("ca", "f"): 2, ("caf", "Ã©"): 3}
    assert bpe.count_text("café", ranks) == 1


def test_non_ascii_counts_hand_derived():
    """Exact counts over non-ASCII text against hand-built tables: a
    table merging the two UTF-8 symbol bytes of 'é' counts 'é' as ONE
    token; the committed multilingual table compresses a Russian and a
    Chinese fixture word below their byte counts (real non-ASCII merges
    fired), and an OOV-script word falls back to one token per byte."""
    ranks = {("Ã", "©"): 0}
    assert bpe.bpe_encode(bpe.byte_encode("é"), ranks) == ["Ã©"]
    # pre-tokens 'é' and ' é' → ['Ã©'] + ['Ġ', 'Ã©'] = 3 tokens
    assert bpe.count_text("é é", ranks) == 3

    committed = bpe.load_merges()
    # Russian word from the training slice: merges fired, so the token
    # count is BELOW the symbol (byte) count
    word = "библиотека"
    syms = bpe.byte_encode(word)
    assert len(syms) == 2 * len(word)  # Cyrillic is 2-byte UTF-8
    assert len(bpe.bpe_encode(syms, committed)) < len(syms)
    # Chinese fixture word: 3-byte UTF-8, still compresses
    zsyms = bpe.byte_encode("图书馆")
    assert len(zsyms) == 9
    assert len(bpe.bpe_encode(zsyms, committed)) < 9
    # a script the table never saw: no merge, one token per byte
    ksyms = bpe.byte_encode("도서관")
    assert len(bpe.bpe_encode(ksyms, committed)) == len(ksyms) == 9


def test_committed_merge_table_is_reproducible():
    """scripts/train_bpe_merges.py reproduces data/bpe_merges.txt from
    the committed fixture — the table is a fit, not hand-typed."""
    rows = json.load(open(FIXTURE_PATH))["rows"]
    texts = [
        r["text"] for r in rows if r["lang"] in ("en", "ru", "zh")
    ]
    merges = bpe.train_bpe_merges(texts, n_merges=400)
    assert merges == _merges_list()
    # trained merges really compress: common English words become one
    # token under the fixture table
    ranks = bpe.load_merges()
    assert len(bpe.bpe_encode("Ġthe", ranks)) == 1


def test_exact_counts_arrow_stage_and_packing(spark, tmp_path):
    """exact_bpe_token_counts annotates every row with the count the
    driver-side encoder derives; pack_blocks(exact_bpe=True) prices
    blocks in those exact tokens (offsets = exact prefix sums), refuses
    conflicting knobs, and a custom merges path loads."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.operators.packing import pack_blocks

    rows = json.load(open(FIXTURE_PATH))["rows"]
    docs = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(rows[:40])],
        "doc_id long, text string",
    )
    ranks = bpe.load_merges()
    annotated = {
        r.doc_id: r.bpe_tokens_exact
        for r in bpe.exact_bpe_token_counts(docs).collect()
    }
    for i, r in enumerate(rows[:40]):
        assert annotated[i] == bpe.count_text(r["text"], ranks), i

    packs = pack_blocks(docs, block_size=64, n_shards=2, exact_bpe=True)
    got = {r.doc_id: r for r in packs.collect()}
    # per shard, offsets are the exact prefix sums of the exact counts
    by_shard: dict[int, int] = {}
    for doc_id in sorted(got):
        r = got[doc_id]
        assert r.n_tokens == annotated[doc_id]
        expect_start = by_shard.get(r.shard, 0)
        assert r.token_start == expect_start
        assert r.pack_id == expect_start // 64
        by_shard[r.shard] = expect_start + r.n_tokens

    with pytest.raises(ValueError, match="not both"):
        pack_blocks(
            docs, exact_bpe=True, token_count_col=F.lit(1)
        )

    # custom merges path: an empty-rule file is loud, a tiny real one loads
    p = tmp_path / "m.txt"
    p.write_text("#version: x\n")
    with pytest.raises(ValueError, match="no merge rules"):
        bpe.load_merges(str(p))
    p.write_text("a b\n")
    assert bpe.load_merges(str(p)) == {("a", "b"): 0}
    assert bpe.count_text("abab cd", bpe.load_merges(str(p))) == 5