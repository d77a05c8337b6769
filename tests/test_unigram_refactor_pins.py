"""Result-preservation pins for the r12 ADVICE fixes.

1. ``em_train`` pin: exact vocab + per-phase LL traces on a fixture that
   CONTAINS the retired in-band sentinel string, captured on the
   PRE-refactor tree — so the out-of-band-LL E-step refactor
   (``operators/unigram_lm.py::_estep`` now carries the per-batch
   log-likelihood in its own ``ll`` column on a piece-NULL row) is
   proven result-preserving.
2. The sentinel key space is GONE: a corpus where the literal
   ``"\\x00__LL__"`` string is a frequent, vocab-resident piece trains
   cleanly, and the distributed E-step matches a driver-side pure-Python
   recomputation piece-for-piece. Under the old in-band scheme that
   piece's expected count and the LL trace would have silently absorbed
   each other (ADVICE r11).
3. ``viterbi_encode`` emits the id column under the CALLER'S ``id_col``
   name instead of hardcoding ``doc_id`` (ADVICE r11).
"""

from __future__ import annotations

import math

import pytest

from data_integration_spark.operators.unigram_lm import (
    _estep,
    _forward_backward,
    em_train,
    seed_vocab,
    viterbi_encode,
)

_SENT = "\x00__LL__"

_PIN_TEXTS = [
    "abab cdcd abcd",
    "the cat sat on the mat",
    "ababab",
    "cdcd cdcd",
    "the the the",
    "mat cat bat",
    "a b c d",
    _SENT + " is a real string here",
    "abcd abcd abcd",
]

# captured on the pre-refactor (in-band-sentinel) tree, 12-dp rounded
_PIN_VOCAB = {
    "\x00": -4.534264325797,
    " ": -1.641934825978,
    " cat ": -3.84997472602,
    "L": -3.841117145237,
    "_": -3.2165285441726e1,
    "__": -3.841117145237,
    "a": -2.442604579229,
    "abab": -3.842599557788,
    "at": -3.166842695434,
    "b": -2.587508069466,
    "c": -2.13476697919,
    "d": -2.136369052999,
    "e": -3.43552875526,
    "g": -4.534264325797,
    "h": -4.533894525776,
    "i": -3.841117145237,
    "l": -4.534264325797,
    "m": -3.841117145237,
    "n": -3.841117145237,
    "o": -4.534264325797,
    "r": -3.435652037129,
    "s": -3.435652037129,
    "t": -4.445530424398,
    "the": -2.92490038978,
}
_PIN_LLS1 = [-234.635116421, -189.228550986]
_PIN_LLS2 = [-339.285220463, -252.506293441]


@pytest.fixture(scope="module")
def pin_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_PIN_TEXTS)], "doc_id int, t string"
    ).repartition(3)


def test_em_train_pin_unchanged_by_out_of_band_ll(pin_docs):
    vocab, lls1, lls2 = em_train(
        pin_docs,
        "t",
        max_piece_len=8,
        min_count=2,
        seed_size=64,
        vocab_target=24,
        iters_per_phase=2,
    )
    assert sorted(vocab) == sorted(_PIN_VOCAB)
    for p, lp in _PIN_VOCAB.items():
        assert round(vocab[p], 12) == pytest.approx(lp, abs=1e-9), p
    assert [round(x, 9) for x in lls1] == pytest.approx(_PIN_LLS1, abs=1e-6)
    assert [round(x, 9) for x in lls2] == pytest.approx(_PIN_LLS2, abs=1e-6)


def test_sentinel_string_is_an_ordinary_piece(spark):
    """The literal retired sentinel appears 3× → seeds as a real piece;
    the distributed E-step must agree with a pure-Python driver-side
    recomputation on EVERY piece (incl. the sentinel string itself) and
    on the LL — the in-band scheme would have corrupted both."""
    texts = [_SENT + " leads", "mid " + _SENT + " dle", "tail " + _SENT]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, t string"
    ).repartition(3)
    seeds = seed_vocab(docs, "t", max_piece_len=8, min_count=2, seed_size=64)
    assert _SENT in {p for p, _c in seeds}
    total = sum(c for _p, c in seeds)
    vocab = {p: math.log(c) - math.log(total) for p, c in seeds}

    ec, ll = _estep(docs, "t", vocab, 8)

    ref_ec: dict[str, float] = {}
    ref_ll = 0.0
    for t in texts:
        dec, dll = _forward_backward(t, vocab, 8)
        ref_ll += dll
        for p, c in dec.items():
            ref_ec[p] = ref_ec.get(p, 0.0) + c
    assert sorted(ec) == sorted(ref_ec)
    for p, c in ref_ec.items():
        assert ec[p] == pytest.approx(c, rel=1e-9, abs=1e-12), p
    assert ll == pytest.approx(ref_ll, rel=1e-9)
    assert ec[_SENT] > 0.0  # the sentinel piece is genuinely exercised
    assert ll < 0.0


def test_viterbi_encode_honors_id_col(spark):
    docs = spark.createDataFrame(
        [(7, "ab"), (8, "ba")], "my_key int, t string"
    )
    out = viterbi_encode(
        docs, {"a": -1.0, "b": -1.0}, id_col="my_key", text_col="t"
    )
    assert out.columns == ["my_key", "pieces", "n_pieces", "cost"]
    rows = {r["my_key"]: r["pieces"] for r in out.collect()}
    assert rows == {7: ["a", "b"], 8: ["b", "a"]}
