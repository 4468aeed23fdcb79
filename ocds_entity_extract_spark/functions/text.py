"""Name-normalization column functions (JVM-side, whole-stage-codegen friendly).

Re-derives the `company-laundry` string surface the reference calls
(reference extract.js call sites, SURVEY.md §2.9):
- collapse_ws  ≙ classifier-name normalization `replace(/\\s+/g,' ')`
                 (reference classify.js:19)
- strip_accents≙ the `diacritics` dep used by laundry.simpleName
- simple_name  ≙ laundry.simpleName: lowercase, de-diacritic,
                 non-alphanumeric runs -> '-', trimmed (whitespace runs
                 included, so it also covers laundry.launder's trim +
                 whitespace collapse)
                 (used for entity ids, reference extract.js:419,451,530,...)

All are pure Column expressions — no Python in the hot path. `strip_accents`
uses a fixed `translate` table covering Latin-1/Latin-Extended accents, which
keeps it inside WholeStageCodegen; DuckDB's strip_accents is the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# accent translate table (src -> dst, 1:1 chars so translate() applies)
_ACC_SRC = "áàâäãåāéèêëēíìîïīóòôöõøōúùûüūýÿñçÁÀÂÄÃÅĀÉÈÊËĒÍÌÎÏĪÓÒÔÖÕØŌÚÙÛÜŪÝŸÑÇšžŠŽ"
_ACC_DST = "aaaaaaaeeeeeiiiiiooooooouuuuuyyncAAAAAAAEEEEEIIIIIOOOOOOOUUUUUYYNCszSZ"


def collapse_ws(col: Column | str) -> Column:
    """Collapse whitespace runs to single spaces and trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def strip_accents(col: Column | str) -> Column:
    """Replace accented Latin characters with their ASCII base letter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ACC_SRC, _ACC_DST)


def simple_name(col: Column | str) -> Column:
    """Slug: lowercase, de-diacritic, non-alnum runs -> '-', trim '-'.

    Entity-id constructor (laundry.simpleName analogue). Deterministic and
    order-free, so ids are stable under any partitioning of the input.
    """
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(strip_accents(c))
    dashed = F.regexp_replace(lowered, r"[^a-z0-9]+", "-")
    return F.regexp_replace(dashed, r"(^-+)|(-+$)", "")


import re as _re

_TRANS_PY = str.maketrans(_ACC_SRC, _ACC_DST)
_NON_ALNUM_PY = _re.compile(r"[^a-z0-9]+")


def simple_name_py(s: str) -> str:
    """Python mirror of `simple_name` (slug). Uses the SAME accent
    translate table as the Spark Column version so the two can never
    disagree — exact agreement is tested in test_text_fns. Used by the
    driver-side linking twin, the datagen golden derivation and the
    zero-shuffle membership pass (operators/mentions.py)."""
    t = s.translate(_TRANS_PY).lower()
    return _NON_ALNUM_PY.sub("-", t).strip("-")


def membership_id(child: Column | str, parent: Column | str) -> Column:
    """Edge id `child_parent` (reference extract.js:358,386,442,...)."""
    c = F.col(child) if isinstance(child, str) else child
    p = F.col(parent) if isinstance(parent, str) else parent
    return F.concat_ws("_", c, p)


def url_domain(col: Column | str) -> Column:
    """Extract the host from an http(s) URL (for skew accounting by domain)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^[a-z]+://([^/]+)", 1)


def cbmei_id_reformat(col: Column | str) -> Column:
    """Dotted reformat of 12+-char product ids -> '3.3.4.rest' segments
    (reference extract.js:142-153). Ids already dotted pass through; short
    ids pass through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(F.instr(c, ".") > 0, c)
        .when(
            F.length(c) >= 12,
            F.concat_ws(
                ".",
                F.substring(c, 1, 3),
                F.substring(c, 4, 3),
                F.substring(c, 7, 4),
                F.substr(c, F.lit(11)),
            ),
        )
        .otherwise(c)
    )
