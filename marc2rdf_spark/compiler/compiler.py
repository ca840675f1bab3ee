"""The mapping-rule compiler: marc2rdf JSON mapping -> Spark plan
(vectorized, data-driven).

The declarative mapping (tags.{tagPattern}.subfield.{code} ->
predicate/object specs, /root/reference/config/templates/
mapping_skeleton.json) is flattened once on the driver into a small
BROADCAST spec table (specs.py) plus regex-dispatch registries; the
conversion plan then grows only with the regex_split registry (see
below), not with the number of rules:

    records
      -> one explode of a unified field array (rec|cf|df rows)
      -> broadcast hash join with specs on (tag, kind)   [rule match P1]
      -> one emission path for every spec: the object pipeline
         (substr|split|whole -> substitute -> combine -> strip ->
         urlize, exact order rdfmodeler.rb:49-135) as higher-order
         functions over an array of objects, then a per-object triple
         array (parent + rdf:type + relation-subfield triples)
      -> inline()

Why this shape at 100 TB (vs unrolling every rule into the expression
tree, whose plan grows with the mapping): regex patterns ride in the
broadcast spec table as string columns consumed by pattern-column
regexp expressions (compiled-last-pattern cache per site), so driver
plan-build, per-task plan deserialization, and codegen do not grow with
the number of rules; the only join is a broadcast of a few hundred spec
rows.  The one exception is regex_split: _dispatch_split is a CASE with
one branch per distinct split pattern in the registry, and it is built
twice (object pipeline and relation pipeline), so the plan grows
linearly with that registry.  One scan, no shuffle before the final
dedup.

Plan-size rule: every pipeline stage references its predecessor
exactly once, by putting the per-row spec switch inside the element
lambda.  A stage written when(on, f(prev)).otherwise(prev) doubles the
tree per stage — exponential in the number of stages
(tests/test_compiler_stages.py pins the analyzed plan size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import Library, Mapping
from ..functions.exprs import (
    is_blank_stripped,
    is_uri,
    split_with_captures,
    urlize,
)
from ..schema import TRIPLE_ARRAY_DDL, TRIPLE_STRUCT_DDL
from ..vocab import RDF_TYPE, Vocabulary, default_vocabulary
from .specs import REC_TAG, SPEC_SCHEMA, Registries, flatten_mapping

FIELD_DDL = (
    "struct<kind:string,tag:string,value:string,ind1:string,ind2:string,"
    "subfields:array<struct<code:string,value:string>>>"
)


def _empty_triples() -> Column:
    return F.array().cast(TRIPLE_ARRAY_DDL)


def _triple(subj, pred, obj, obj_is_uri, lang, dtype) -> Column:
    return F.struct(
        subj.alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        obj_is_uri.alias("obj_is_uri"),
        lang.cast("string").alias("lang"),
        dtype.cast("string").alias("dtype"),
    ).cast(TRIPLE_STRUCT_DDL)


def _null() -> Column:
    return F.lit(None).cast("string")


def _first_subfield(field: Column, code: Column) -> Column:
    """field[code] with a runtime code column (ruby-marc first-subfield
    semantics, rdfmodeler.rb:244,286)."""
    return F.get(
        F.filter(field["subfields"], lambda s: s["code"] == code), 0
    )["value"]


# ---------------------------------------------------------------------------
# pattern-column regex helpers.  Patterns are spec-table STRING COLUMNS
# consumed directly by regexp_* expressions (non-foldable patterns are
# supported with a compiled-last-pattern cache); CASE-dispatch chains
# over interned patterns would multiply the expression tree by the
# registry size and overflow janino's 64 KB codegen method limit.
# Only regex_split still dispatches by interned id (capture-group split
# semantics need compile-time pattern introspection).
# ---------------------------------------------------------------------------

def _last_match_col(c: Column, pat: Column) -> Column:
    """Last regex match of the pattern column; null when pattern is
    null or nothing matches (Ruby scan-loop last-wins).  element_at(-1)
    evaluates the regex ONCE (get(arr, size(arr)-1) would codegen the
    extraction twice)."""
    return F.element_at(F.regexp_extract_all(c, pat, F.lit(0)), F.lit(-1))


def _dispatch_split(o: Column, id_col: Column, patterns: list[str]) -> Column:
    """regex_split by pattern id, empties dropped (rdfmodeler.rb:89-91);
    falls through to [o] when id is null (whole-string branch)."""
    expr = None
    for i, p in enumerate(patterns, 1):
        branch = F.filter(
            split_with_captures(o, p), lambda x: x.isNotNull() & (x != "")
        )
        expr = (
            F.when(id_col == i, branch)
            if expr is None
            else expr.when(id_col == i, branch)
        )
    default = F.array(o)
    return expr.otherwise(default) if expr is not None else default


class MappingCompiler:
    """mapping -> ``convert(records)`` triples DF; plan shape per module
    docstring."""

    def __init__(
        self,
        mapping: Mapping,
        library: Library | None = None,
        vocab: Vocabulary | None = None,
    ):
        self.mapping = mapping
        self.library = library or Library()
        self.vocab = vocab or default_vocabulary()
        self.spec_rows, self.regs = flatten_mapping(
            mapping, self.library, self.vocab
        )

    # -- generic micro-operator pipeline (rdfmodeler.rb:49-135) ----------
    def _pipeline(self, o: Column, s, field: Column) -> Column:
        """s: accessor fn, s('substr_off') etc. returns the spec column —
        works for the spec struct column and for rel-array lambda vars.

        Each stage references its predecessor array ONCE: the per-row
        spec switch lives inside the element lambda
        (transform(arr, x -> when(on, f(x)).otherwise(x))).  The form
        when(on, f(arr)).otherwise(arr) would copy the predecessor tree
        twice per stage: over four stages the _dispatch_split CASE is
        replicated 16x in each of the object and relation pipelines,
        ~7x the analyzed plan size of the skeleton mapping."""
        regs = self.regs

        piece = o.substr(s("substr_off") + F.lit(1), s("substr_len"))
        substr_branch = F.when(
            (F.length(o) >= s("substr_off") + s("substr_len"))
            & ~is_blank_stripped(piece),
            F.array(piece),
        ).otherwise(F.array().cast("array<string>"))
        arr = F.when(s("substr_off").isNotNull(), substr_branch).otherwise(
            _dispatch_split(o, s("split_id"), regs.split)
        )

        def _subst(x: Column) -> Column:
            cleaned = F.lower(F.regexp_replace(x, r"[\W]+", ""))
            last = _last_match_col(cleaned, s("subst_orig"))
            # no-match => cleaned passthrough (rdfmodeler.rb:96-104);
            # matched-but-unmapped would crash the reference -> null,
            # filtered
            return F.when(last.isNull(), cleaned).otherwise(
                F.element_at(s("subst_map"), last)
            )

        # a matched-but-unmapped element becomes null and is dropped;
        # without a substitute spec, elements pass through untouched
        has_subst = s("subst_orig").isNotNull()
        arr = F.filter(
            F.transform(
                arr, lambda x: F.when(has_subst, _subst(x)).otherwise(x)
            ),
            lambda x: ~has_subst | x.isNotNull(),
        )

        # F.array_join only takes a literal delimiter; the SQL function
        # accepts a column — call it directly
        combined = F.call_function(
            "array_join",
            F.flatten(
                F.transform(
                    s("combine"),
                    lambda c: F.transform(
                        F.filter(field["subfields"], lambda sf: sf["code"] == c),
                        lambda sf: sf["value"],
                    ),
                )
            ),
            F.coalesce(s("combine_sep"), F.lit("")),
        )
        arr = F.transform(
            arr,
            lambda x: F.when(s("combine").isNotNull(), combined).otherwise(x),
        )
        arr = F.transform(
            arr,
            lambda x: F.when(
                s("strip_re").isNotNull(),
                F.regexp_replace(x, s("strip_re"), ""),
            ).otherwise(x),
        )
        return F.transform(
            arr, lambda x: F.when(s("urlize"), urlize(x)).otherwise(x)
        )

    # -- conditions -> predicate (rdfmodeler.rb:200-234) ------------------
    def _predicate(self, field: Column, s, sf_first: Column) -> Column:
        default = s("cond_default")

        # subfield conditions: fold the ordered key list with the
        # reference's keep-previous-unless-empty chain
        # (rdfmodeler.rb:205-216).  Per key: an empty/missing sibling
        # subfield resets to that key's default; a regex match
        # overwrites (unmapped/empty-mapped match counts as empty and
        # falls back to default); no match keeps the accumulated
        # predicate unless it is empty.  A single-key array reduces to
        # the familiar match-or-default CASE.
        def _fold(acc: Column, c: Column) -> Column:
            m = F.element_at(sf_first, c["code"])
            cleaned = F.lower(F.regexp_replace(m, r"[\.\-]+", ""))
            last = _last_match_col(cleaned, c["orig"])
            cand = F.element_at(c["map"], last)
            matched = F.when(
                last.isNotNull(), F.coalesce(cand, F.lit(""))
            ).otherwise(acc)
            chained = F.when(
                matched.isNull() | (matched == ""), c["default"]
            ).otherwise(matched)
            return F.when(m.isNull() | (m == ""), c["default"]).otherwise(
                chained
            )

        sub_pred = F.aggregate(s("cond_subs"), F.lit(""), _fold)

        cand1 = F.element_at(
            s("cond1_map"), _last_match_col(field["ind1"], s("cond1_orig"))
        )
        cand2 = F.element_at(
            s("cond2_map"), _last_match_col(field["ind2"], s("cond2_orig"))
        )
        ind_pred = (
            F.when(cand2.isNotNull() & (cand2 != ""), cand2)
            .when(cand1.isNotNull() & (cand1 != ""), cand1)
            .otherwise(default)
        )

        return (
            F.when(s("cond_kind") == "sub", sub_pred)
            .when(s("cond_kind") == "ind", ind_pred)
            .otherwise(s("pred"))
        )

    # -- emission: one object -> triple array -----------------------------
    def _emission(
        self, subj: Column, field: Column, spec: Column, pred: Column
    ) -> "callable":
        def s(name: str) -> Column:
            return spec[name]

        def per_object(o: Column) -> Column:
            obj_full = F.concat(F.coalesce(s("prefix"), F.lit("")), o)
            uri_flag = is_uri(obj_full)
            dt = s("datatype")

            p_obj = F.when(dt == "uri", obj_full).otherwise(o)
            p_is_uri = F.when(dt == "uri", uri_flag).otherwise(F.lit(False))
            p_dtype = (
                F.when(dt == "integer", F.lit("xsd:integer"))
                .when(dt == "float", F.lit("xsd:float"))
                .otherwise(_null())
            )
            p_lang = F.when(dt == "literal", s("lang")).otherwise(_null())
            parent = F.when(
                pred.isNotNull() & (pred != ""),
                F.array(_triple(subj, pred, p_obj, p_is_uri, p_lang, p_dtype)),
            ).otherwise(_empty_triples())

            # relate() force-URIs its subject (rdfmodeler.rb:145): type
            # triple emitted even when the parent coerced to a literal
            type_t = F.when(
                s("rel_class").isNotNull(),
                F.array(
                    _triple(
                        obj_full, F.lit(RDF_TYPE), s("rel_class"),
                        F.lit(True), _null(), _null(),
                    )
                ),
            ).otherwise(_empty_triples())

            def per_rel(r: Column) -> Column:
                def rs(name: str) -> Column:
                    return r[name]

                ro_src = _first_subfield(field, rs("code"))
                relobjs = self._pipeline(ro_src, rs, field)

                def mk_rel(ro: Column) -> Column:
                    # 'uri' is FORCED (rdfmodeler.rb:268)
                    r_obj = F.when(
                        rs("datatype") == "uri",
                        F.concat(F.coalesce(rs("prefix"), F.lit("")), ro),
                    ).otherwise(ro)
                    r_is_uri = rs("datatype") == "uri"
                    r_lang = F.when(
                        rs("datatype") == "uri", _null()
                    ).otherwise(rs("lang"))
                    return _triple(
                        obj_full, rs("pred"), r_obj, r_is_uri, r_lang, _null()
                    )

                return F.when(
                    ro_src.isNotNull() & (ro_src != ""),
                    F.transform(relobjs, mk_rel),
                ).otherwise(_empty_triples())

            rel_t = F.coalesce(
                F.flatten(F.transform(F.coalesce(s("rel"), F.array().cast(
                    "array<struct<code:string,pred:string,substr_off:int,"
                    "substr_len:int,split_id:int,"
                    "subst_orig:string,subst_map:map<string,string>,"
                    "combine:array<string>,combine_sep:string,"
                    "strip_re:string,urlize:boolean,"
                    "datatype:string,prefix:string,lang:string>>"
                )), per_rel)),
                _empty_triples(),
            )
            return F.concat(parent, type_t, rel_t)

        return per_object

    # -- record-level helpers ---------------------------------------------
    def identifier_expr(self, record: Column) -> Column:
        """record[identifier_tag].value (rdfmodeler.rb:14) — NULL when
        the control field is absent."""
        return F.get(
            F.filter(
                record["controlfields"],
                lambda f: f["tag"] == F.lit(self.library.identifier_tag),
            ),
            0,
        )["value"]

    def subject_expr(self, record: Column) -> Column:
        return F.concat(
            F.lit(self.library.base + self.library.prefix),
            F.coalesce(self.identifier_expr(record), F.lit("")),
        )

    def _fields_array(self, record: Column) -> Column:
        rec_field = F.struct(
            F.lit("rec").alias("kind"), F.lit(REC_TAG).alias("tag"),
            F.lit("").alias("value"), _null().alias("ind1"),
            _null().alias("ind2"),
            F.lit(None).cast(
                "array<struct<code:string,value:string>>"
            ).alias("subfields"),
        ).cast(FIELD_DDL)
        cf = F.transform(
            F.coalesce(record["controlfields"], F.array()),
            lambda f: F.struct(
                F.lit("cf").alias("kind"), f["tag"].alias("tag"),
                f["value"].alias("value"), _null().alias("ind1"),
                _null().alias("ind2"),
                F.lit(None).cast(
                    "array<struct<code:string,value:string>>"
                ).alias("subfields"),
            ).cast(FIELD_DDL),
        )
        df_ = F.transform(
            F.coalesce(record["datafields"], F.array()),
            lambda f: F.struct(
                F.lit("df").alias("kind"), f["tag"].alias("tag"),
                _null().alias("value"), f["ind1"].alias("ind1"),
                f["ind2"].alias("ind2"), f["subfields"].alias("subfields"),
            ).cast(FIELD_DDL),
        )
        return F.concat(F.array(rec_field), cf, df_)

    def specs_df(self, spark) -> DataFrame:
        return spark.createDataFrame(self.spec_rows, SPEC_SCHEMA)

    # -- public API ---------------------------------------------------------
    def convert(
        self,
        records: DataFrame,
        cache_records: bool = False,
    ) -> DataFrame:
        """records DF (schema.RECORDS_SCHEMA) -> triples DF.  One scan,
        one broadcast join, no shuffle; dedup is the materialize
        stage's concern (G8, SURVEY.md §2.4).  A ``url`` column, when
        present, is carried onto every triple.

        cache_records persists the input records (pruned to the needed
        columns, memory and disk).  The plan reads its records once, so
        the pipeline never sets it; it stays because the perfbench
        workloads pass it."""
        kept = ["url"] if "url" in records.columns else []
        if cache_records:
            from pyspark import StorageLevel

            records = records.select(*kept, "record").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        spark = records.sparkSession
        # first-subfield semantics via map_from_entries(reverse(...)):
        # with LAST_WIN dedup the reversed array's last entry — the
        # original FIRST occurrence — wins (ruby-marc field[code]).
        # SESSION-WIDE DEPENDENCY: the policy must still be LAST_WIN
        # when the plan's actions run; get_spark() sets it as a session
        # default and this re-set guards sessions built elsewhere.
        # Resetting it to EXCEPTION mid-session breaks convert()'s P3
        # semantics (documented per ADVICE r1).
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        record = F.col("record")
        field = F.col("field")
        sf_first_expr = F.map_from_entries(
            F.reverse(
                F.filter(
                    F.coalesce(
                        field["subfields"],
                        F.array().cast("array<struct<code:string,value:string>>"),
                    ),
                    lambda sf: sf["code"].isNotNull(),
                )
            )
        )
        # records without the identifier control field cannot mint a
        # subject URI — the reference cannot even construct an
        # RDFModeler for them (rdfmodeler.rb:14-15, nil.value raises).
        # Field-less OAI deleted-header envelopes parse to exactly this
        # shape; the tombstone path handles them, conversion skips them.
        ident = self.identifier_expr(record)
        fields = records.filter(
            ident.isNotNull() & (ident != "")
        ).select(
            *kept,
            self.subject_expr(record).alias("subj"),
            F.explode(self._fields_array(record)).alias("field"),
        ).select(
            *kept, "subj", "field",
            F.col("field.tag").alias("tag"), F.col("field.kind").alias("kind"),
            sf_first_expr.alias("sf_first"),
        )

        joined = fields.join(F.broadcast(self.specs_df(spark)), ["tag", "kind"])

        spec = F.col("spec")
        subj = F.col("subj")
        kind = F.col("kind")
        sf_first = F.col("sf_first")

        src = (
            F.when(kind == "cf", field["value"])
            .when(kind == "df", F.element_at(sf_first, spec["code"]))
            .otherwise(F.lit(""))
        )
        guard = (
            F.when(kind == "cf", ~is_blank_stripped(field["value"]))
            .when(kind == "df", src.isNotNull() & (src != ""))
            .otherwise(F.lit(True))
        )

        def s(name: str) -> Column:
            return spec[name]

        pred = self._predicate(field, s, sf_first)
        # controlfield blank-object guard, switched per element so objs
        # is referenced once (see _pipeline)
        objs = F.filter(
            self._pipeline(src, s, field),
            lambda o: (kind != "cf") | ~is_blank_stripped(o),
        )
        emission = self._emission(subj, field, spec, pred)
        triples_arr = F.flatten(F.transform(objs, emission))
        # F.inline = explode + struct-expansion in ONE generator: one
        # fewer chained select, and each chained DataFrame op on this
        # tree costs a full eager JVM analysis pass.
        return joined.where(guard).select(*kept, F.inline(triples_arr))
