"""Mention detection: detection hits the embedded entity surfaces and
memberships; the dim, probe and fused span paths agree with their plain
references."""

from __future__ import annotations

from ocds_entity_extract_spark.functions.classify import with_entity_type
from ocds_entity_extract_spark.functions.html import with_extracted_text
from ocds_entity_extract_spark.operators.mentions import (
    detect_spans,
    detect_spans_fused,
    memberships_from_spans,
    mentions_via_dim,
    surface_dim,
)


def _collect_set(df):
    return {tuple(r) for r in df.collect()}


def test_detects_embedded_entities(spark, pages_df, small_corpus):
    _, _, aux = small_corpus
    # the mention rows build_triples merges: fused spans probed against the
    # classified surface dim
    spans = detect_spans_fused(pages_df)
    mentions = mentions_via_dim(spans, with_entity_type(surface_dim(spans)), broadcast=True)
    found_ids = {r["entity_id"] for r in mentions.select("entity_id").distinct().collect()}
    from ocds_entity_extract_spark.datagen import simple_name_py

    # every entity surface that datagen embedded must be detectable
    embedded = set()
    for e in aux["entities"]:
        embedded.add(simple_name_py(e.name))
    missing = embedded - found_ids
    # allow a small tail (entities may never have been picked for a page)
    assert len(missing) / len(embedded) < 0.25, sorted(missing)[:10]


def test_memberships_detected(spark, pages_df, small_corpus):
    _, golden, _ = small_corpus
    pages_t = with_extracted_text(pages_df)
    got = _collect_set(
        memberships_from_spans(detect_spans(pages_t)).select("person_id", "org_id")
    )
    assert len(got) > 10


def test_mentions_via_dim_unhinted_equals_broadcast(spark, pages_df):
    """Size-adaptive broadcast (SCALE.md): the unhinted (AQE-decided) join
    must resolve identically to the forced-broadcast probe."""
    from ocds_entity_extract_spark.functions.html import with_extracted_text
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans,
        mentions_via_dim,
        surface_dim,
    )

    spans = detect_spans(with_extracted_text(pages_df))
    dim = surface_dim(spans)
    a = {tuple(r) for r in mentions_via_dim(spans, dim, broadcast=True).collect()}
    b = {tuple(r) for r in mentions_via_dim(spans, dim, broadcast=False).collect()}
    assert a and a == b


def test_detect_spans_fused_matches_jvm_path(spark, pages_df):
    """The all-Python fused span extractor (html -> spans, text never
    returned to the JVM) emits exactly what the JVM regex path emits over
    extracted text — same rows, same arrays, same order."""
    from ocds_entity_extract_spark.functions.html import with_extracted_text
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans,
        detect_spans_fused,
    )

    jvm = detect_spans(with_extracted_text(pages_df)).orderBy("url").collect()
    py = detect_spans_fused(pages_df).orderBy("url").collect()
    assert len(jvm) == len(py)
    for a, b in zip(jvm, py):
        assert a == b, a["url"]


def test_span_regex_alternatives_carry_gate_tokens():
    """Drift guard for the substring prescan gates (mentions.py:74): every
    alternative of a GATED span regex must contain one of its gate tokens,
    else adding e.g. 'secretario' to ROLE_RE without extending
    MEMBER_GATE_TOKENS would silently drop those spans on gated pages.
    The split on '|' is valid because these regexes carry no nested
    top-level alternation (asserted first)."""
    from ocds_entity_extract_spark.operators.mentions import (
        CONTACT_GATE_TOKENS,
        CONTACT_RE,
        MEMBER_GATE_TOKENS,
        PRODUCT_GATE_TOKENS,
        PRODUCT_RE,
        ROLE_RE,
    )

    def alternatives(pattern: str) -> list[str]:
        body = pattern
        if body.startswith("(?:") and body.endswith(")"):
            body = body[3:-1]
        depth = 0
        alts, cur = [], []
        for ch in body:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "|" and depth == 0:
                alts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        alts.append("".join(cur))
        return alts

    for alt in alternatives(ROLE_RE):
        assert any(tok in alt.lower() for tok in MEMBER_GATE_TOKENS), (
            f"ROLE_RE alternative {alt!r} matches no MEMBER_GATE_TOKENS "
            "token - extend the gates or the membership prescan drops it"
        )
    for alt in alternatives(CONTACT_RE):
        assert any(tok in alt for tok in CONTACT_GATE_TOKENS), (
            f"CONTACT_RE alternative {alt!r} matches no CONTACT_GATE_TOKENS"
        )
    for alt in alternatives(PRODUCT_RE):
        assert any(tok in alt for tok in PRODUCT_GATE_TOKENS), (
            f"PRODUCT_RE alternative {alt!r} matches no PRODUCT_GATE_TOKENS"
        )
