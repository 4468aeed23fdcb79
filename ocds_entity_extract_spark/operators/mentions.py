"""Mention detection: extracted text -> candidate entity-name spans.

Generalizes the reference's `parties.map(...)` iteration (reference
extract.js:8-10): where OCDS hands the reference a parties array per record,
a web page hands us raw text, so mentions are detected as capitalized name
spans (persons, companies with legal suffixes, keyword-led institutions).

Spans are extracted in one Arrow-batched pandas UDF (`detect_spans_fused`),
which the pipeline runs; `detect_spans` is its JVM parity oracle over
extracted text (`regexp_extract_all`). The regex is a single pattern valid under BOTH Java
and Python `re` semantics (only char classes / non-capturing groups / \\s),
so the two paths and the datagen golden derivation can never drift
(parity-tested).

Membership detection (analogue of the six membership constructors,
reference extract.js:1102-1218): sentences "X, <role> de Y" -> memberOf
edges, extracted with the same shared token grammar.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.functions.text import collapse_ws, simple_name, url_domain

# --- shared grammar (Java- and Python-compatible) ------------------------

_UPPER = "A-ZÁÉÍÓÚÑÜ"      # A-Z ÁÉÍÓÚÑÜ
_LOWER = "a-záéíóúñü"      # a-z áéíóúñü
# capitalized token: allows lowercase tails (Grupo), all-caps acronyms
# (UNAM, SA, CV) and dotted acronyms (S.A., C.V.)
_TOK = f"[{_UPPER}](?:[{_UPPER}{_LOWER}0-9]|\\.[{_UPPER}])*\\.?"
_CONN = "(?:de|del|la|las|los|y|e)"
# >= 2 capitalized tokens, optionally separated by a single connector
MENTION_RE = f"{_TOK}(?:\\s+(?:{_CONN}\\s+)?{_TOK})+"

ROLE_RE = "(?:director general|directora general|titular|presidente|presidenta|gerente)"
# groups: 1 = person span, 2 = role, 3 = org span (inner groups non-capturing)
MEMBERSHIP_RE = f"({MENTION_RE}),\\s+({ROLE_RE})\\s+de\\s+({MENTION_RE})"

# contact spans (≙ party.contactPoint -> contact_details assembly, reference
# extract.js:889-891): a web page's contact signals are emails and phone
# numbers rather than a structured contactPoint object. Java- and
# Python-compatible (char classes only).
CONTACT_RE = (
    "(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)+"
    "|tel[.:]?\\s+[0-9]{2,3}[- ][0-9]{4}[- ][0-9]{4})"
)

# person-named email local part: firstname.lastname[digits]@ — the webtext
# analogue of party.contactPoint.{id,name} (reference extract.js:372-390
# creates a PERSON from the contactPoint and a membership to the
# institution). groups: 1=first 2=last token of the local part.
PERSON_EMAIL_RE = "^([a-z]+)\\.([a-z]+[0-9]*)@"

# product/item spans (≙ contract.items consumption, reference
# extract.js:40-106): a procurement-report sentence carrying the item id,
# description, quantity, unit price, overprice and reference average —
# the webtext analogue of item.{id, description, quantity,
# unit.value.amount, unit.value.amountOverpriceMxIMSS,
# unit.value.valueAverageMxIMSS}. Description is LOWERCASE by grammar so
# product sentences can never collide with the capitalized entity-mention
# grammar. groups: 1=id 2=description 3=qty 4=unit price 5=overprice
# 6=average value
PRODUCT_RE = (
    "Producto ([0-9]{8,13}): ([a-záéíóúñü ]+?),"
    " ([0-9]+) unidades a \\$([0-9]+\\.[0-9]{2})"
    " con sobreprecio \\$(-?[0-9]+\\.[0-9]{2})"
    " y promedio \\$([0-9]+\\.[0-9]{2})"
)

# substring prescan gates, SHARED between the JVM (`detect_spans`) and
# fused-Python (`detect_spans_fused`) extractors so the two can never
# drift: a span regex only runs on pages containing one of its gate
# tokens. test_mentions asserts every ROLE_RE alternative contains a
# member gate token (adding e.g. 'secretario' without extending the gates
# trips the test instead of silently dropping spans).
MEMBER_GATE_TOKENS = ("titular", "president", "director", "gerente")
CONTACT_GATE_TOKENS = ("@", "tel")
PRODUCT_GATE_TOKENS = ("Producto ",)


def detect_spans(pages: DataFrame) -> DataFrame:
    """Fused single-pass extraction: ONE scan of `text` computes the
    mention-span, membership-span AND contact-span arrays.

    The full pipeline consumes all three; without fusion the branches would
    each re-scan pages and re-run the (expensive) upstream text-extraction
    pandas UDF. The result is small (spans only, text dropped) — cacheable
    by the caller.

    The membership and contact automata are GATED on cheap substring
    prescans (a role word / '@' / 'tel'): contains() is ~an order of
    magnitude cheaper per char than running the alternation automaton, and
    most pages carry no membership sentence or contact line, so two fast
    scans replace two slow ones on the majority of bytes. False positives
    (e.g. 'hotel', 'cartel') merely run the regex and match nothing —
    identical output, pure CPU win at every scale.
    """
    t = F.col("text")

    def _gate(tokens):
        g = t.contains(tokens[0])
        for tok in tokens[1:]:
            g = g | t.contains(tok)
        return g

    empty = F.array().cast("array<string>")
    return pages.select(
        "url",
        "warc_ts",
        url_domain("url").alias("domain"),
        F.regexp_extract_all(t, F.lit(MENTION_RE), 0).alias("mention_spans"),
        F.when(
            _gate(MEMBER_GATE_TOKENS),
            F.regexp_extract_all(t, F.lit(MEMBERSHIP_RE), 0),
        ).otherwise(empty).alias("member_spans"),
        F.when(
            _gate(CONTACT_GATE_TOKENS),
            F.regexp_extract_all(t, F.lit(CONTACT_RE), 0),
        ).otherwise(empty).alias("contact_spans"),
        F.when(
            _gate(PRODUCT_GATE_TOKENS),
            F.regexp_extract_all(t, F.lit(PRODUCT_RE), 0),
        ).otherwise(empty).alias("product_spans"),
    )


def detect_spans_fused(pages: DataFrame) -> DataFrame:
    """html -> (mention, membership, contact) span arrays entirely inside
    the Python worker; the extracted TEXT never crosses Arrow back to the
    JVM.

    Motivation (event-log task metrics at 1M pages): the extract stage's
    JVM tasks spend most of their "run time" blocked on the Python worker,
    and the per-core Python throughput drops ~33% from 2 to 8 local cores —
    the stage is memory-traffic-bound, and the full text column shipped
    back per page (then re-scanned by three JVM regex automata) is most of
    that traffic. Finding spans where the text already is (the worker that
    just built it, via C-speed `re`) returns only a handful of short
    strings per page: less Arrow serialization, no JVM regex pass, same
    output — `detect_spans` (the JVM path) is kept as the parity oracle.

    Text passthrough matches `with_extracted_text`: a non-null `text`
    is used as-is (incremental re-runs), html parsed otherwise. The
    substring gates mirror `detect_spans` exactly.
    """
    import re

    from ocds_entity_extract_spark.functions.html import extract_text_bytes

    mention_pat = re.compile(MENTION_RE)
    member_pat = re.compile(MEMBERSHIP_RE)
    contact_pat = re.compile(CONTACT_RE)
    product_pat = re.compile(PRODUCT_RE)

    @F.pandas_udf(
        "mention_spans array<string>, member_spans array<string>,"
        " contact_spans array<string>, product_spans array<string>"
    )
    def _spans(html: pd.Series, text: pd.Series) -> pd.DataFrame:
        ms, bs, cs, ps = [], [], [], []
        for h, t in zip(html, text):
            if t is None:
                t = extract_text_bytes(h) or ""
            ms.append(mention_pat.findall(t))
            bs.append(
                [m.group(0) for m in member_pat.finditer(t)]
                if any(tok in t for tok in MEMBER_GATE_TOKENS)
                else []
            )
            cs.append(
                contact_pat.findall(t)
                if any(tok in t for tok in CONTACT_GATE_TOKENS)
                else []
            )
            ps.append(
                [m.group(0) for m in product_pat.finditer(t)]
                if any(tok in t for tok in PRODUCT_GATE_TOKENS)
                else []
            )
        return pd.DataFrame(
            {
                "mention_spans": ms,
                "member_spans": bs,
                "contact_spans": cs,
                "product_spans": ps,
            }
        )

    text_expr = (
        F.col("text") if "text" in pages.columns else F.lit(None).cast("string")
    )
    return pages.select(
        "url",
        "warc_ts",
        url_domain("url").alias("domain"),
        _spans(F.col("html"), text_expr).alias("_s"),
    ).select("url", "warc_ts", "domain", "_s.*")


def surface_dim(spans: DataFrame) -> DataFrame:
    """DISTINCT mention surfaces -> (surface, name_norm, entity_id); empty
    slugs dropped.

    Dictionary-encoding of the normalization: surface forms are Zipf-
    distributed, so the distinct set is orders of magnitude smaller than
    the mention stream — normalizing (4 regexes) once per distinct surface
    and broadcast-joining back beats running the regexes per occurrence,
    in both CPU and memory traffic. Classification composes on top of this
    dim the same way (see plans/pipeline.py).

    The distinct's partial HashAggregate already dedups each task's
    surfaces map-side, so no Python pre-dedup pass precedes it (SCALE.md
    "Surface dim" has the measurement that removed one).
    """
    surfaces = spans.select(F.explode("mention_spans").alias("surface")).distinct()
    return surfaces.select(
        "surface",
        collapse_ws("surface").alias("name_norm"),
        simple_name("surface").alias("entity_id"),
    ).filter(F.col("entity_id") != "")


# the name perfbench's layer tracer imports; the one body is `surface_dim`
surface_dim_batched = surface_dim


def mentions_via_dim(
    spans: DataFrame, dim: DataFrame, broadcast: bool
) -> DataFrame:
    """Explode spans and resolve normalization via the surface dim — one
    hash probe per mention instead of per-mention regexes.

    `broadcast=True` hints the dim into a broadcast hash join (right when
    the distinct-surface count is KNOWN small — the caller has counted or
    bounded it). `broadcast=False` leaves the join unhinted: AQE picks
    broadcast vs shuffle from runtime sizes, the safe choice when the
    distinct-surface set may outgrow executor memory (10^9+ distinct
    surfaces at full-crawl scale would OOM every executor under a forced
    hint — the round-1 scale-killer this parameter removes).
    plans/pipeline.build_triples counts the (cached) dim and passes the
    decision in (threshold `max_broadcast_surfaces`).
    """
    mentions = spans.select(
        "url", "warc_ts", "domain", F.explode("mention_spans").alias("surface")
    )
    return mentions.join(F.broadcast(dim) if broadcast else dim, "surface")


def canon_mention_rows(spans: DataFrame, surf2canon_bc) -> DataFrame:
    """spans -> (url, canonical_id) rows, one per DISTINCT
    canonical entity per page, resolved through a broadcast
    surface->canonical dict. ZERO shuffle.

    This is the size-adaptive fast twin of the join-path assembly
    (explode -> dim join -> mapping join -> global distinct): because the
    spans table carries exactly one row per url, duplicate
    (url, canonical_id) pairs can only arise WITHIN a page, so the per-page
    dedup here is globally complete and the corpus-sized distinct exchange
    — the pipeline's one big shuffle — disappears entirely. Valid only
    when (a) pages are url-unique (the input table's key per the north
    rule's input_hint) and (b) the surface dim fits a driver dict (the
    caller gates on `max_broadcast_surfaces`, the budget that already
    broadcasts the dim; above it the join path runs instead).

    Implemented as `mapInArrow` with batch-level vectorization: surfaces
    are dictionary-encoded per Arrow batch (Zipf: ~10-100x fewer uniques
    than spans), the broadcast dict is probed ONLY for the uniques, and the
    per-page dedup + explode is one `np.unique` over packed
    (page, canon-code) int64 keys — no per-string Python object ever
    materializes, so worker CPU and allocator/memory-bus pressure stay
    ~flat as cores scale (the pandas-UDF predecessor spent ~5x the CPU
    building object Series and scaled at ~0.3 between 2 and 8 local
    cores).

    `surf2canon_bc` is a SparkContext broadcast of {surface: canonical_id}
    covering every dim surface (surfaces whose slug normalized to '' are
    absent, matching the dim's inner-join filter). Parity with the join
    path is pytest-gated (test_linking_cc, test_pipeline_golden).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def _batches(it):
        m = surf2canon_bc.value
        for batch in it:
            urls = batch.column(0)
            arrs = batch.column(1)
            flat = pc.list_flatten(arrs)
            # int64 up-front: list_parent_indices is int32 for ListArray and
            # numpy keeps int32 for int32-array * python-int, so the packed
            # key `parents * k` could silently wrap past 2^31 once
            # rows-per-batch x distinct-canonicals-per-batch grows (the
            # defensive cast makes the packing safe at any batch/config)
            parents = pc.list_parent_indices(arrs).to_numpy(
                zero_copy_only=False
            ).astype(np.int64, copy=False)
            enc = flat.dictionary_encode()
            uniq = enc.dictionary.to_pylist()
            canon_uniq: dict[str, int] = {}
            codes = np.empty(max(len(uniq), 1), dtype=np.int64)
            for i, u in enumerate(uniq):
                c = m.get(u)
                codes[i] = (
                    -1 if c is None else canon_uniq.setdefault(c, len(canon_uniq))
                )
            k = max(len(canon_uniq), 1)
            pcode = codes[enc.indices.to_numpy(zero_copy_only=False)]
            keep = pcode >= 0
            keys = np.unique(parents[keep] * k + pcode[keep])
            subj = pc.take(urls, pa.array(keys // k, type=pa.int64()))
            obj = pc.take(
                pa.array(list(canon_uniq), type=pa.string()),
                pa.array(keys % k, type=pa.int64()),
            )
            yield pa.record_batch([subj, obj], names=["url", "canonical_id"])

    return spans.select("url", "mention_spans").mapInArrow(
        _batches, "url string, canonical_id string"
    )


# fast membership-span splitter, equivalent to MEMBERSHIP_RE group
# extraction ON STRINGS THAT ARE FULL MEMBERSHIP_RE MATCHES (the only
# strings it ever sees — member spans are produced by MEMBERSHIP_RE
# findall): group 1 (a MENTION) can never contain a comma, so the first
# comma is exactly its right edge, and group 3 extends to the end of the
# matched span. Same role-alternation order, same inter-group \s+.
# ~5x cheaper per span than re-running the nested-mention alternation.
MEMBERSHIP_SPLIT_RE = f"([^,]+),\\s+({ROLE_RE})\\s+de\\s+([\\s\\S]*)"


def member_edge_rows(spans: DataFrame, slug2canon_bc) -> DataFrame:
    """spans -> (url, member_canon, role, org_canon, is_purchase) rows: the
    membership branch as ONE Arrow pass with dict-probe canonicalization.
    `is_purchase` mirrors memberships_from_spans (the isPurchase analogue,
    reference extract.js:551-560). ZERO shuffle
    (the consumer's memberOf distinct is a tiny exchange over the already
    page-deduped edge set).

    Twin of `memberships_from_spans(...).join(mapping x2)` (the join path):
    each member span is re-parsed (split at the first comma — equivalent to
    `regexp_extract(m, MEMBERSHIP_RE, i)` on full matches, see
    MEMBERSHIP_SPLIT_RE), slugged with `simple_name_py` (parity-locked to
    the Column version in test_text_fns), then probed against the broadcast
    slug->canonical dict. A missing slug drops the edge — exactly the join
    path's INNER join against the mapping (whose keys are all dim slugs).
    Runs in the dict plan only, like `canon_mention_rows`. The twin earns
    its place: routing the dict plan through `memberships_from_spans` plus
    two broadcast mapping joins instead measured, over 6 alternating
    crawl_adaptive pairs on a 4-vCPU box (perfbench seeds 5-10), cold_job_s
    median 9.30 -> 10.44 s and job_s median 2.86 -> 2.94 s.

    Member sentences repeat heavily across a crawl (boilerplate, syndicated
    articles), so parses are memoized in a per-task cache keyed by the span
    string (capped — a pathological corpus can't grow it unboundedly);
    spans are dictionary-encoded per batch so each distinct span parses
    once per batch, and once per task across batches.
    """
    import re

    import pyarrow as pa
    import pyarrow.compute as pc

    from ocds_entity_extract_spark.functions.text import simple_name_py

    split_pat = re.compile(MEMBERSHIP_SPLIT_RE)
    _CACHE_CAP = 1_000_000

    def _batches(it):
        canon = slug2canon_bc.value
        cache: dict = {}

        def parse(s):
            m = split_pat.match(s)
            if m is None:
                return None
            mc = canon.get(simple_name_py(m.group(1)))
            oc = canon.get(simple_name_py(m.group(3)))
            return (mc, m.group(2), oc) if mc and oc else None

        for batch in it:
            urls, arrs, purch = batch.columns
            parents = pc.list_parent_indices(arrs).to_numpy(zero_copy_only=False)
            enc = pc.list_flatten(arrs).dictionary_encode()
            parsed = []
            for s in enc.dictionary.to_pylist():
                hit = cache.get(s, 0)
                if hit == 0:
                    hit = parse(s)
                    if len(cache) < _CACHE_CAP:
                        cache[s] = hit
                parsed.append(hit)
            hits = [
                (parents[pos], parsed[code])
                for pos, code in enumerate(enc.indices.to_numpy(zero_copy_only=False))
                if parsed[code] is not None
            ]
            idx = pa.array([pos for pos, _ in hits], type=pa.int64())
            edge_cols = [
                pa.array([p[i] for _, p in hits], type=pa.string()) for i in range(3)
            ]
            yield pa.record_batch(
                [pc.take(urls, idx), *edge_cols, pc.take(purch, idx)],
                names=["url", "member_canon", "role", "org_canon", "is_purchase"],
            )

    return (
        spans.filter(F.size("member_spans") > 0)
        .select(
            "url", "member_spans", (F.size("product_spans") > 0).alias("is_purchase")
        )
        .mapInArrow(
            _batches,
            "url string, member_canon string, role string, org_canon string,"
            " is_purchase boolean",
        )
    )


def contacts_from_spans(spans: DataFrame) -> DataFrame:
    """detect_spans output -> (url, contact_type, contact_value) rows.

    Webtext analogue of party.contactPoint consumption (reference
    extract.js:889-891): each page-level contact span becomes a typed
    (email | tel) value; a page without contacts contributes nothing, so
    this table is TINY relative to pages — downstream joins broadcast it.
    """
    c = spans.filter(F.size("contact_spans") > 0).select(
        "url", F.explode("contact_spans").alias("contact_value")
    )
    return c.select(
        "url",
        F.when(F.col("contact_value").contains("@"), F.lit("email"))
        .otherwise(F.lit("tel"))
        .alias("contact_type"),
        "contact_value",
    ).distinct()


def contact_person_candidates(spans: DataFrame) -> DataFrame:
    """detect_spans output -> one row per (page, person-named email):
    (url, warc_ts, domain, is_purchase, person_slug, person_name).

    Webtext analogue of the contactPoint PERSON (reference
    extract.js:372-390: `party.contactPoint` becomes a person entity plus a
    membership to the institution). A web page has no structured
    contactPoint, so the person is derived from person-shaped email local
    parts (firstname.lastname[digits]@, PERSON_EMAIL_RE): the slug is the
    dash-joined local part (exactly what simple_name would produce for the
    reconstructed display name — both tokens are already lowercase ASCII),
    the display name its initcap. Pages with generic inboxes
    (redaccion@..., prensa@...) contribute nothing, so this table is a
    subset of the already-tiny contact table; downstream joins broadcast
    it. Edge assembly (→ 'funcionario' memberships to the page's
    institutions) lives in plans/pipeline.py."""
    c = spans.filter(F.size("contact_spans") > 0).select(
        "url",
        "warc_ts",
        "domain",
        (F.size("product_spans") > 0).alias("is_purchase"),
        F.explode("contact_spans").alias("_e"),
    )
    first = F.regexp_extract("_e", PERSON_EMAIL_RE, 1)
    last = F.regexp_extract("_e", PERSON_EMAIL_RE, 2)
    return (
        c.filter(first != "")
        .select(
            "url",
            "warc_ts",
            "domain",
            "is_purchase",
            F.concat_ws("-", first, last).alias("person_slug"),
            F.concat_ws(
                " ", F.initcap(first), F.initcap(last)
            ).alias("person_name"),
        )
        .distinct()
    )


def memberships_from_spans(spans: DataFrame) -> DataFrame:
    """detect_spans output -> (url, person_id, role, org_id, is_purchase)
    edges. `is_purchase` marks edges found on product-bearing pages — the
    webtext analogue of isPurchase(metadata.source) (reference
    extract.js:551-560), which gates the contract_count vs purchase_count
    counter families downstream (plans/documents.py)."""
    m = spans.select(
        "url",
        (F.size("product_spans") > 0).alias("is_purchase"),
        F.explode("member_spans").alias("m"),
    )
    return m.select(
        "url",
        simple_name(F.regexp_extract("m", MEMBERSHIP_RE, 1)).alias("person_id"),
        F.regexp_extract("m", MEMBERSHIP_RE, 2).alias("role"),
        simple_name(F.regexp_extract("m", MEMBERSHIP_RE, 3)).alias("org_id"),
        "is_purchase",
    ).filter((F.col("person_id") != "") & (F.col("org_id") != ""))
