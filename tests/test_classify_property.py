"""Property parity: the shipped extraction pipeline (extract_pipeline, one
fused mapInArrow pass) keeps exactly the spans the Python reference
semantics (semantics.classify_span) keep, on adversarial strings —
unicode, regex metacharacters, URL-ish tokens, page furniture — so the
Arrow decode/encode path round-trips every kept text unchanged."""

from hypothesis import given, settings, strategies as st

from document_parser_private_spark import semantics as S
from document_parser_private_spark.plans.pipeline import extract_pipeline

TRICKY = st.one_of(
    st.text(max_size=40),
    st.sampled_from([
        "Page 7 of 9", "3 / 12", "©2024 corp", "confidential",
        "----", "•••", "a | b | c", "Home | About | Shop",
        "www.x.com www.y.org www.z.net go", "x@y.co",
        "linkedin.com/in/a | github.com/b",
        "(c) 2001 all rights reserved",
        "tab\tand\nnewline", "ünïcødé tëxt", "正文内容", "٣ ٤ ٥",
        "a.b(c)*d+e?", "[bracket] {brace} ^caret$",
        "generated by toolx", "downloaded from http://a.b",
        "42", "0", "  ", "",
    ]),
)


@settings(max_examples=40, deadline=None)
@given(st.lists(TRICKY, min_size=1, max_size=12))
def _prop_pipeline_matches_python(spark, texts):
    # one span per text line (distinct y, x=0): layout order == input order
    spans = [
        {"kind": "text", "text": t, "media_ref": None,
         "offset": S.encode_offset(3 * i, 0)}
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        [("d0", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    row = extract_pipeline(df, repartition=False).collect()[0]
    clean = row["clean_spans"]

    py_kept = []
    for s in spans:
        label = S.classify_span(s["kind"], s["text"], s["media_ref"])
        if label != "boilerplate":
            kind = "media-anchor" if label == "media-anchor" else s["kind"]
            py_kept.append((kind, s["text"]))

    assert [(s["kind"], s["text"]) for s in clean] == py_kept, texts
    assert [s["offset"] for s in clean] == list(range(len(clean))), texts
    assert (row["blocks_kept"], row["blocks_dropped"]) == (
        len(py_kept), len(spans) - len(py_kept)), texts


def test_fused_classify_matches_python_semantics(spark):
    _prop_pipeline_matches_python(spark)
