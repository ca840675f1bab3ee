"""Spark Column-expression builders for the mapping micro-operators
(SURVEY.md §2.2 P5-P12).  Everything here compiles to native Catalyst
expressions — no Python UDFs — so the conversion stage stays inside
whole-stage codegen (BASELINE.json input_hint: no per-row Python).

Each builder is the JVM twin of a function in textsem.py; both sides
share the same regex constants so semantics can't drift.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .textsem import (
    DEFAULT_URLIZE_STRIP,
    MULTI_CLASSES,
    RUBY_STRIP_RE,
    SINGLE_FROM,
    SINGLE_TO,
    URI_ALLOWED_RE,
    URI_SCHEME_HOST_RE,
)


def ruby_strip(c: Column) -> Column:
    """Ruby String#strip (ASCII whitespace + NUL, both ends)."""
    return F.regexp_replace(c, RUBY_STRIP_RE, "")


def is_blank_stripped(c: Column) -> Column:
    """value.strip.empty? (rdfmodeler.rb:163,168) — null counts as blank."""
    return c.isNull() | (ruby_strip(c) == "")


def fold_accents(c: Column) -> Column:
    """The urlize accent map (textsem.py_replacecharacters): the
    multi-character classes, then the single-character translate."""
    for cls, repl in MULTI_CLASSES:
        c = F.regexp_replace(c, f"[{cls}]", repl)
    return F.translate(c, SINGLE_FROM, SINGLE_TO)


def urlize(c: Column) -> Column:
    """String#urlize with mapping defaults (string_replace.rb:74-83):
    strip -> accent map -> downcase -> ' '->'_' -> drop [^-_A-Za-z0-9]."""
    out = F.lower(fold_accents(ruby_strip(c)))
    out = F.regexp_replace(out, " ", "_")
    return F.regexp_replace(out, DEFAULT_URLIZE_STRIP, "")


def is_uri(c: Column) -> Column:
    """generate_uri's URI-vs-literal decision (rdfmodeler.rb:35-47):
    RFC2396 charset AND scheme://host present."""
    return c.rlike(URI_ALLOWED_RE) & c.rlike(URI_SCHEME_HOST_RE)


def last_match(c: Column, pattern: str) -> Column:
    """Last regex match of `pattern` in `c` (Ruby scan-loop, last wins);
    null when no match.  Null-safe via F.get (no ANSI index errors)."""
    matches = F.regexp_extract_all(c, F.lit(pattern), 0)
    return F.get(matches, F.size(matches) - 1)


def first_subfield(field: Column, code: str) -> Column:
    """field[code]: FIRST subfield value with this code (ruby-marc
    semantics, rdfmodeler.rb:244,286); null when absent."""
    return F.get(
        F.filter(field["subfields"], lambda s: s["code"] == F.lit(code)), 0
    )["value"]


def subfield_values(field: Column, code: str) -> Column:
    """All values of `code` in field order (combine, rdfmodeler.rb:106-117)."""
    return F.transform(
        F.filter(field["subfields"], lambda s: s["code"] == F.lit(code)),
        lambda s: s["value"],
    )


def split_with_captures(c: Column, pattern: str) -> Column:
    """Ruby String#split(/re/) incl. single-capture-group pieces, empties
    dropped by the caller.  Without a group: plain split.  With one group:
    interleave the between-parts with the captured pieces (Ruby split
    yields [between0, cap0, between1, cap1, …])."""
    if not _has_capture_group(pattern):
        return F.split(c, pattern)
    parts = F.split(c, pattern)  # Java split drops captures: between-parts
    caps = F.regexp_extract_all(c, F.lit(pattern), 1)
    padded = F.concat(caps, F.array(F.lit(None).cast("string")))
    return F.flatten(
        F.zip_with(parts, padded, lambda p, cap: F.array(p, cap))
    )


def _has_capture_group(pattern: str) -> bool:
    # a '(' that is not escaped and not a (?: …) / (?! …) style group
    return re.search(r"(?<!\\)\((?!\?)", pattern) is not None


def generate_objects_expr(o: Column, ospec: dict, field: Column | None) -> Column:
    """Columnar twin of generate_objects (rdfmodeler.rb:49-135): returns
    array<string> applying substr|split|whole -> substitute -> combine ->
    strip -> urlize in the reference's fixed order."""
    empty = F.array().cast("array<string>")

    if ospec.get("substr_offset") is not None:
        off, ln = ospec["substr_offset"], ospec["substr_length"]
        piece = F.substring(o, off + 1, ln)
        arr = F.when(
            (F.length(o) >= F.lit(off + ln)) & ~is_blank_stripped(piece),
            F.array(piece),
        ).otherwise(empty)
    elif ospec.get("regex_split") is not None:
        arr = F.filter(
            split_with_captures(o, ospec["regex_split"]),
            lambda x: x.isNotNull() & (x != ""),
        )
    else:
        arr = F.array(o)

    if ospec.get("regex_substitute") is not None:
        rs = ospec["regex_substitute"]
        subs_map = F.create_map(
            *[F.lit(x) for kv in rs["subs"].items() for x in kv]
        )

        def _sub(x: Column) -> Column:
            cleaned = F.lower(F.regexp_replace(x, r"[\W]+", ""))
            last = last_match(cleaned, rs["orig"])
            # no-match => cleaned passthrough (rdfmodeler.rb:96-104 quirk);
            # matched-but-unmapped would crash the reference — drop (null,
            # filtered below), same as the oracle.
            return F.when(last.isNull(), cleaned).otherwise(subs_map[last])

        arr = F.filter(F.transform(arr, _sub), lambda x: x.isNotNull())

    if ospec.get("combine") is not None:
        assert field is not None, "combine requires the enclosing datafield"
        vals = F.concat(*[subfield_values(field, c) for c in ospec["combine"]])
        combined = F.array_join(vals, ospec.get("combinestring") or "")
        arr = F.transform(arr, lambda _: combined)

    if ospec.get("regex_strip") is not None:
        pat = ospec["regex_strip"]
        arr = F.transform(arr, lambda x: F.regexp_replace(x, pat, ""))

    if ospec.get("urlize") is not None:
        arr = F.transform(arr, urlize)

    return arr


# ---------------------------------------------------------------------------
# N-Triples rendering (sink S6, rdfmodeler.rb:313-324) — JVM-side escaping.
# ---------------------------------------------------------------------------

def nt_escape(c: Column) -> Column:
    out = F.regexp_replace(c, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', '\\\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    return F.regexp_replace(out, "\t", r"\\t")


def nt_line(
    subj: Column, pred: Column, obj: Column, obj_is_uri: Column,
    lang: Column, dtype: Column,
) -> Column:
    """Render one canonical N-Triples line (UTF-8 literals; control chars
    escaped)."""
    from ..vocab import XSD_NS

    obj_part = (
        F.when(obj_is_uri, F.concat(F.lit("<"), obj, F.lit(">")))
        .when(
            dtype.isNotNull(),
            F.concat(
                F.lit('"'), nt_escape(obj), F.lit('"^^<'),
                F.lit(XSD_NS),
                F.regexp_replace(dtype, "^xsd:", ""), F.lit(">"),
            ),
        )
        .when(
            lang.isNotNull(),
            F.concat(F.lit('"'), nt_escape(obj), F.lit('"@'), lang),
        )
        .otherwise(F.concat(F.lit('"'), nt_escape(obj), F.lit('"')))
    )
    return F.concat(
        F.lit("<"), subj, F.lit("> <"), pred, F.lit("> "), obj_part, F.lit(" .")
    )


# ---------------------------------------------------------------------------
# RDF/XML rendering (the reference CLI's second serialization:
# RDF::Writer by file extension, marc2rdf.rb:14,56 — the reference
# itself calls .rdf "slooow"; ours is columnar concat, JVM-side).
# ---------------------------------------------------------------------------

def xml_escape(c: Column) -> Column:
    out = F.regexp_replace(c, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    return F.regexp_replace(out, '"', "&quot;")


def rdfxml_property(
    pred: Column, obj: Column, obj_is_uri: Column,
    lang: Column, dtype: Column,
) -> Column:
    """One RDF/XML property element with an inline namespace
    declaration (split at the trailing XML-name local part)."""
    from ..vocab import XSD_NS

    local = F.regexp_extract(pred, r"([A-Za-z_][A-Za-z0-9_.\-]*)$", 1)
    ns = F.substring(pred, F.lit(1), F.length(pred) - F.length(local))
    head = F.concat(
        F.lit("<n0:"), local, F.lit(' xmlns:n0="'), xml_escape(ns), F.lit('"')
    )
    close = F.concat(F.lit("</n0:"), local, F.lit(">"))
    return (
        F.when(
            obj_is_uri,
            F.concat(head, F.lit(' rdf:resource="'), xml_escape(obj),
                     F.lit('"/>')),
        )
        .when(
            dtype.isNotNull(),
            F.concat(
                head, F.lit(' rdf:datatype="'), F.lit(XSD_NS),
                F.regexp_replace(dtype, "^xsd:", ""), F.lit('">'),
                xml_escape(obj), close,
            ),
        )
        .when(
            lang.isNotNull(),
            F.concat(head, F.lit(' xml:lang="'), lang, F.lit('">'),
                     xml_escape(obj), close),
        )
        .otherwise(F.concat(head, F.lit(">"), xml_escape(obj), close))
    )
