"""Property-based tests (hypothesis) for the raw-crawl front half:
normalize_text's invariants over adversarial unicode and paragraphs()'s
equivalence with an independent Python reference.

The idempotence property is scoped to input free of (a) the mojibake
LEAD characters themselves and (b) combining marks: NFC can legally
compose `A + U+0303` into the mojibake lead `Ã`, which the NEXT pass
would then "repair" — fixed-order single-pass repair is the documented
contract (ftfy iterates to a fixpoint instead), and the oracle pairing
pins that order, so the property matches the contract, not more."""

import re
import unicodedata

from hypothesis import example, given, settings
from hypothesis import strategies as st

from openmsistream_spark.llm.extract import MOJIBAKE, normalize_text, paragraphs

# alphabet: printable ASCII, whitespace/controls, precomposed accents,
# CJK — minus the mojibake lead chars and any combining marks
_LEADS = {seq[0] for seq, _ in MOJIBAKE}
_ALPHABET = [
    c
    for c in (
        [chr(i) for i in range(0x20, 0x7F)]
        + list("\t\n\r\x00\x01\x0b\x7f\x85\x9d")
        + list("éèäöüñçøÉÜ中文テスト¡¿")
    )
    if c not in _LEADS and not unicodedata.combining(c)
]

_texts = st.lists(
    st.text(alphabet=_ALPHABET, max_size=120), min_size=1, max_size=24
)

_CTRL = re.compile("[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f]")


@given(_texts)
@settings(max_examples=12, deadline=None)
def test_normalize_idempotent_no_controls_nfc(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = {
        r.doc_id: r.text_norm
        for r in normalize_text(df, "text").collect()
    }
    redo = spark.createDataFrame(
        [(i, t) for i, t in once.items()], "doc_id long, text string"
    )
    twice = {
        r.doc_id: r.text_norm
        for r in normalize_text(redo, "text").collect()
    }
    assert twice == once  # idempotent on this input space
    for out in once.values():
        assert not _CTRL.search(out)  # stripped controls never survive
        assert unicodedata.is_normalized("NFC", out)


def _ref_paragraphs(text: str, n: int = 4):
    # Spark's trim (and DuckDB's) strips SPACES only — not \t\n\r —
    # so the reference must too, or a "\n"-only doc falsifies it
    toks = re.split(r"\s+", text.strip(" ").lower())
    return [
        (i // n + 1, " ".join(toks[i : i + n]))
        for i in range(0, len(toks), n)
    ]


_word = st.text(
    alphabet=list("abcdefghijklmnopqrstuvwxyz0123456789"), min_size=0, max_size=8
)
_ws = st.sampled_from([" ", "  ", "\t", "\n", " \n "])


@st.composite
def _doc_text(draw):
    parts = draw(st.lists(st.tuples(_word, _ws), min_size=0, max_size=30))
    return "".join(w + s for w, s in parts) + draw(_word)


@given(st.lists(_doc_text(), min_size=1, max_size=16))
@settings(max_examples=12, deadline=None)
def test_paragraphs_match_python_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got: dict = {}
    for r in paragraphs(df).collect():
        got.setdefault(r.doc_id, []).append((r.para_idx, r.para))
    for doc in got.values():
        doc.sort()
    want = {
        i: _ref_paragraphs(t) for i, t in enumerate(texts)
    }
    assert got == want

_soup_piece = st.one_of(
    st.text(
        alphabet=list("<>&;/=\"' abcdefghij\n\t!-"), min_size=0, max_size=12
    ),
    # no "&lt;"/"&#60;" pieces: entity decoding (correctly, after tag
    # removal) turns them into literal '<' text, which the no-tag
    # assertion below would misread as a leak — the entity ORDER
    # semantics are pinned by test_extract_entities_and_script_lt
    st.sampled_from(
        [
            "<p>", "</p>", "<div", "<script>", "</script>", "<!--", "-->",
            "<a href='x'>", "</a>", "&amp;", "<br/>",
            "<style>", "</style>", "< p >", "<<>>", "</", ">",
        ]
    ),
)


@given(st.lists(st.lists(_soup_piece, max_size=25).map("".join), min_size=1, max_size=16))
# round-14 regression: a dangling `<div` opener cut at the block
# boundary (`<div<p>`) must not compose with a later block's orphan
# `>` into a tag across the newline join
@example(pages=[";;;;;;;;;;;;;;;;;;;;;<div<p>;;;;;;;;;;;;;>;;;;;;;;;;;"])
@settings(max_examples=12, deadline=None)
def test_extract_survives_malformed_tag_soup(spark, pages):
    """Real crawl HTML is malformed: unclosed tags, stray brackets,
    half comments, nested script fragments. The extractor must never
    throw, always yield sane counters, and never leak a script/style
    subtree or a well-formed tag into the text."""
    from openmsistream_spark.llm.extract import extract_main_content

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pages)], "doc_id long, html string"
    )
    rows = extract_main_content(df, "html").collect()
    assert len(rows) == len(pages)
    for r in rows:
        assert 0 <= r.n_kept <= r.n_blocks
        assert (r.main_text == "") == (r.n_kept == 0)
        # a kept block never contains a well-formed tag
        import re as _re

        assert not _re.search(r"<[a-z!/][^>]*>", r.main_text or "")
