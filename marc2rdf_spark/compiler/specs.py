"""Mapping flattener: marc2rdf JSON mapping -> emission-spec ROWS +
regex-dispatch registries.

Instead of unrolling every rule into the expression tree (correct, but
its plan grows with the mapping, costing plan-build time and per-task
deserialization), the mapping becomes a small broadcast TABLE: one
spec row per (concrete tag x rule x subfield-emission), with
maps/arrays as real columns and regex patterns interned into dispatch
registries (a handful of distinct patterns per
mapping, compiled as literals so codegen keeps them).

Semantics preserved exactly (SURVEY.md §2.2-2.4 / rdfmodeler.rb):
 - tag patterns (unanchored regexes incl. alternation and negative
   lookahead) are expanded against the 3-digit MARC tag space at
   compile time -> plain equi-join keys;
 - datatype normalization mirrors the reference's branch structure:
   controlfield non-'literal' => URI path (rdfmodeler.rb:169), relation
   parents always URI-coerced (:249), relation subfields 'uri' forced
   (:268), straight datafields uri/integer/float/literal (:290-299);
 - conditions (subfield/indicator) become map columns + default with
   the pattern interned (:200-231).
"""

from __future__ import annotations

import re

from ..config import Library, Mapping
from ..vocab import RDF_TYPE, Vocabulary

ALL_TAGS = [f"{i:03d}" for i in range(1000)]
REC_TAG = "REC"  # synthetic record-level field

# Regex patterns ride in the spec rows as STRING COLUMNS and are used
# directly by regexp_* expressions (Spark supports non-foldable
# patterns with a compiled-last-pattern cache per expression instance).
# The alternative — interning patterns and building CASE-dispatch
# chains over every distinct pattern — multiplies the expression tree
# by the registry size and overflows janino's 64 KB codegen method
# limit.  Only regex_split keeps an interned id: Ruby's
# split-with-capture-group semantics need compile-time pattern
# introspection (functions/exprs.py split_with_captures).
SPEC_SCHEMA = """
    tag string, kind string,
    spec struct<
        code: string,
        pred: string,
        cond_kind: string,
        cond_subs: array<struct<
            code: string, orig: string,
            map: map<string,string>, default: string>>,
        cond1_orig: string, cond1_map: map<string,string>,
        cond2_orig: string, cond2_map: map<string,string>,
        cond_default: string,
        substr_off: int, substr_len: int,
        split_id: int,
        subst_orig: string, subst_map: map<string,string>,
        combine: array<string>, combine_sep: string,
        strip_re: string, urlize: boolean,
        datatype: string, prefix: string, lang: string,
        rel_class: string,
        rel: array<struct<
            code: string, pred: string,
            substr_off: int, substr_len: int,
            split_id: int, subst_orig: string,
            subst_map: map<string,string>,
            combine: array<string>, combine_sep: string,
            strip_re: string, urlize: boolean,
            datatype: string, prefix: string, lang: string>>
    >
"""


class Registries:
    """Interned regex patterns; ids are 1-based, 0/None = absent.
    Only regex_split patterns live here (see SPEC_SCHEMA note)."""

    def __init__(self):
        self.split: list[str] = []

    def intern(self, kind: str, pattern: str | None) -> int | None:
        if pattern is None:
            return None
        lst = getattr(self, kind)
        if pattern not in lst:
            re.compile(pattern)  # fail fast on invalid regex
            lst.append(pattern)
        return lst.index(pattern) + 1

    @staticmethod
    def check(pattern: str | None) -> str | None:
        """Fail fast on invalid regex; pattern passes through as data."""
        if pattern is not None:
            re.compile(pattern)
        return pattern


def _norm_lang(lang) -> str | None:
    if not lang:
        return None
    return lang.lstrip(":") or None


def _pipe_fields(ospec: dict, regs: Registries) -> dict:
    rs = ospec.get("regex_substitute")
    return {
        "substr_off": ospec.get("substr_offset"),
        "substr_len": ospec.get("substr_length"),
        "split_id": regs.intern("split", ospec.get("regex_split")),
        "subst_orig": regs.check(rs["orig"]) if rs else None,
        "subst_map": dict(rs["subs"]) if rs else None,
        "combine": list(ospec["combine"]) if ospec.get("combine") else None,
        "combine_sep": ospec.get("combinestring"),
        "strip_re": regs.check(ospec.get("regex_strip")),
        "urlize": bool(ospec.get("urlize")),
    }


def _cond_fields(sub: dict, regs: Registries, expand) -> dict:
    out = {
        "cond_kind": None, "cond_subs": None,
        "cond1_orig": None, "cond1_map": None,
        "cond2_orig": None, "cond2_map": None,
        "cond_default": None,
    }
    cond = sub.get("conditions")
    if not cond:
        return out
    if "subfield" in cond:
        # Condition keys fold IN ORDER with the reference's
        # keep-previous-unless-empty chain (rdfmodeler.rb:205-216): a
        # later key's match overwrites, a later key's EMPTY sibling
        # subfield resets to that key's default, and a later key with no
        # regex match keeps the earlier result unless it is empty.  The
        # compiler carries the ordered list as a spec array and folds it
        # with F.aggregate (compiler._predicate).
        out.update(
            cond_kind="sub",
            cond_subs=[
                {
                    "code": key,
                    "orig": regs.check(value["orig"]),
                    "map": {k: expand(v) for k, v in value["subs"].items()},
                    "default": (
                        expand(value["default"])
                        if value.get("default")
                        else None
                    ),
                }
                for key, value in cond["subfield"].items()
            ],
        )
    elif "indicator" in cond:
        ind = cond["indicator"]
        out["cond_kind"] = "ind"
        if ind.get("indicator1"):
            out["cond1_orig"] = regs.check(ind["indicator1"]["orig"])
            out["cond1_map"] = {
                k: expand(v) for k, v in ind["indicator1"]["subs"].items()
            }
        if ind.get("indicator2"):
            out["cond2_orig"] = regs.check(ind["indicator2"]["orig"])
            out["cond2_map"] = {
                k: expand(v) for k, v in ind["indicator2"]["subs"].items()
            }
        out["cond_default"] = (
            expand(ind["default"]) if ind.get("default") else None
        )
    return out


_EMPTY_SPEC = {
    "code": None, "pred": None,
    "cond_kind": None, "cond_subs": None,
    "cond1_orig": None, "cond1_map": None,
    "cond2_orig": None, "cond2_map": None,
    "cond_default": None,
    "substr_off": None, "substr_len": None,
    "split_id": None, "subst_orig": None, "subst_map": None,
    "combine": None, "combine_sep": None,
    "strip_re": None, "urlize": False,
    "datatype": "literal", "prefix": None, "lang": None,
    "rel_class": None, "rel": None,
}


def flatten_mapping(
    mapping: Mapping, library: Library, vocab: Vocabulary
) -> tuple[list[dict], Registries]:
    """-> (spec rows, dispatch registries).  Each row is a JSON-able
    dict shaped like SPEC_SCHEMA; MappingCompiler.specs_df turns the
    rows into the broadcast table with schema.local_frame."""
    regs = Registries()
    expand = vocab.expand
    rows: list[dict] = []

    def emit(tag: str, kind: str, **fields) -> None:
        rows.append({"tag": tag, "kind": kind, "spec": {**_EMPTY_SPEC, **fields}})

    for key, rule in mapping.tags.items():
        pattern = re.compile(key)
        tags = [t for t in ALL_TAGS if pattern.search(t)]
        if "subfield" not in rule:
            # controlfield rule (rdfmodeler.rb:160-186): each named
            # sub-rule is an emission; datatype != 'literal' => URI path
            for _name, sub in rule.items():
                ospec = sub["object"]
                dt = "literal" if ospec.get("datatype") == "literal" else "uri"
                base = dict(
                    pred=expand(sub["predicate"]) if sub.get("predicate") else None,
                    **_pipe_fields(ospec, regs),
                    datatype=dt,
                    prefix=ospec.get("prefix"),
                    rel_class=(
                        expand(sub["relation"]["class"])
                        if "relation" in sub
                        else None
                    ),
                )
                for t in tags:
                    emit(t, "cf", **base)
        else:
            for code, sub in rule["subfield"].items():
                ospec = sub["object"]
                cond = _cond_fields(sub, regs, expand)
                pred = (
                    expand(sub["predicate"])
                    if (sub.get("predicate") and not sub.get("conditions"))
                    else None
                )
                if "relation" in sub:
                    # relation parent is ALWAYS URI-coerced (:249)
                    rel_specs = []
                    for rc, rspec in (
                        sub["relation"].get("subfield") or {}
                    ).items():
                        ro = rspec["object"]
                        rel_specs.append(
                            {
                                "code": rc,
                                "pred": expand(rspec["predicate"]),
                                **_pipe_fields(ro, regs),
                                "datatype": (
                                    "uri" if ro.get("datatype") == "uri" else "literal"
                                ),
                                "prefix": ro.get("prefix"),
                                "lang": _norm_lang(ro.get("lang")),
                            }
                        )
                    base = dict(
                        code=code, pred=pred, **cond,
                        **_pipe_fields(ospec, regs),
                        datatype="uri",
                        prefix=ospec.get("prefix"),
                        rel_class=expand(sub["relation"]["class"]),
                        rel=rel_specs or None,
                    )
                else:
                    dtname = ospec.get("datatype")
                    dt = dtname if dtname in ("uri", "integer", "float") else "literal"
                    base = dict(
                        code=code, pred=pred, **cond,
                        **_pipe_fields(ospec, regs),
                        datatype=dt,
                        prefix=ospec.get("prefix"),
                        lang=_norm_lang(ospec.get("lang")),
                    )
                for t in tags:
                    emit(t, "df", **base)

    # record-level rdf:type emissions (set_type, rdfmodeler.rb:28-33)
    for t in library.rdf_types.replace(" ", "").split(","):
        if t:
            emit(
                REC_TAG, "rec",
                pred=RDF_TYPE, datatype="uri", prefix=expand(t),
            )
    return rows, regs
