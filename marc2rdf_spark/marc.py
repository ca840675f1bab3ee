"""MARC record model + parsers (MARCXML / marcxchange / binary ISO 2709).

Plain-Python, dependency-light, and vectorization-friendly: the same
functions run on the driver (tests, golden generation) and inside
Arrow-batched ``mapInPandas`` workers (marc2rdf_spark.sources).

Reference semantics mirrored (studied, not copied):
 - record field access ``record[tag]`` -> first field with tag
   (/root/reference/lib/rdfmodeler.rb:14 uses ``record[identifier_tag]``)
 - datafield subscript ``field[code]`` -> FIRST subfield with that code
   (ruby-marc semantics; /root/reference/lib/rdfmodeler.rb:244,286)
 - MARCXML: namespace-agnostic local-name matching — the reference
   handles both MARC21 slim and marcxchange namespaces
   (/root/reference/scheduler.rb:364-366).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field


@dataclass
class Subfield:
    code: str
    value: str


@dataclass
class ControlField:
    tag: str
    value: str

    @property
    def is_control(self) -> bool:
        return True


@dataclass
class DataField:
    tag: str
    ind1: str
    ind2: str
    subfields: list[Subfield] = dc_field(default_factory=list)

    @property
    def is_control(self) -> bool:
        return False

    def first(self, code: str) -> str | None:
        """First subfield value with this code (ruby-marc ``field[code]``)."""
        for sf in self.subfields:
            if sf.code == code:
                return sf.value
        return None

    def values(self, code: str) -> list[str]:
        """All subfield values with this code, in field order (combine)."""
        return [sf.value for sf in self.subfields if sf.code == code]


@dataclass
class Record:
    leader: str = ""
    fields: list = dc_field(default_factory=list)  # ControlField | DataField

    def tags(self) -> list[str]:
        """Distinct tags in first-seen order (set-equivalent to ruby-marc
        ``record.tags``; output triples are set-deduplicated so order is
        immaterial)."""
        seen: dict[str, None] = {}
        for f in self.fields:
            seen.setdefault(f.tag, None)
        return list(seen)

    def fields_with_tag(self, tag: str) -> list:
        return [f for f in self.fields if f.tag == tag]

    def first_value(self, tag: str) -> str | None:
        for f in self.fields:
            if f.tag == tag:
                return f.value if f.is_control else None
        return None


# ---------------------------------------------------------------------------
# MARCXML / marcxchange parsing (namespace-agnostic)
# ---------------------------------------------------------------------------

# The close tag must carry the SAME namespace prefix as the open tag
# (backreference): an OAI envelope nests <marcxchange:record> inside a
# plain <record>, and a prefix-agnostic close would end the outer match
# at the inner </marcxchange:record>, splitting the envelope into
# malformed fragments (reference shape: spec/example.oairesponse.xml,
# oaiclient.rb:28-44 ListRecords responses).
_RECORD_RE = re.compile(
    r"<((?:[A-Za-z_][\w.\-]*:)?)record[\s>].*?</\1record\s*>",
    re.DOTALL,
)


def find_record_strings(text: str) -> list[str]:
    """Locate embedded ``<record>…</record>`` substrings byte-identically.

    This is the extraction contract of BASELINE.json input_hint: the
    returned strings are exact substrings of ``text`` (no re-serialization),
    so extraction is byte-identical per url.  OAI ListRecords envelopes
    yield one (balanced) outer <record> per harvested record — header
    plus metadata — which parse_record_xml descends into.

    The backreferenced close tag handles the common envelope shape
    (prefixed MARC record inside an unprefixed OAI <record>), but a
    provider may emit BOTH levels unprefixed (default-xmlns marcxchange
    inside default-xmlns OAI-PMH — valid and common); the non-greedy
    regex would then stop at the INNER </record> and hand a malformed
    fragment to the parser.  Each match is therefore re-balanced: while
    it contains more same-prefix opens than closes, it is extended to
    the next close tag.  Matches swallowed by an extension are skipped,
    so fragments stay non-overlapping."""
    out: list[str] = []
    last_end = 0
    for m in _RECORD_RE.finditer(text):
        if m.start() < last_end:  # inside a previously extended match
            continue
        prefix = re.escape(m.group(1))
        # full open tag, so self-closing <record .../> can be excluded
        # from the open count (it needs no close; counting it would
        # extend past the true close and swallow the NEXT record)
        open_re = re.compile(rf"<{prefix}record(?:\s[^>]*)?>")
        close_re = re.compile(rf"</{prefix}record\s*>")

        def n_opens(lo: int, hi: int) -> int:
            return sum(
                1
                for om in open_re.finditer(text, lo, hi)
                if not om.group(0).endswith("/>")
            )

        end = m.end()
        opens = n_opens(m.start(), end)
        closes = len(close_re.findall(text, m.start(), end))
        while opens > closes:
            nxt = close_re.search(text, end)
            if nxt is None:  # unbalanced to EOF: keep the regex match
                break
            opens += n_opens(end, nxt.start())
            closes += 1
            end = nxt.end()
        out.append(text[m.start() : end])
        last_end = end
    return out


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].rsplit(":", 1)[-1]


def parse_record_xml(xml: str) -> Record:
    """Parse one ``<record>`` element string into a Record."""
    import xml.etree.ElementTree as ET

    # The extracted snippet may use a namespace prefix without declaring
    # it (it was declared on the enclosing <collection>); declare common
    # prefixes on a synthetic wrapper so ET accepts it.
    wrapped = (
        "<wrap xmlns:marc='info:lc/xmlns/marcxchange-v1' "
        "xmlns:mx='info:lc/xmlns/marcxchange-v1' "
        "xmlns:slim='http://www.loc.gov/MARC21/slim'>" + xml + "</wrap>"
    )
    root = ET.fromstring(wrapped)
    rec_el = next(iter(root))
    # OAI-PMH envelope: <record><header .../><metadata><mx:record>
    # MARC fields</mx:record></metadata></record> — the MARC record is
    # response.first.metadata in the reference (oaiclient.rb:62-66,
    # oaiclient_spec.rb:16).  Descend to the innermost record element;
    # a deleted-header envelope has no metadata and parses to an empty
    # Record (the harvest path tombstones it instead of converting,
    # scheduler.rb:379-383).
    if not any(
        _localname(el.tag) in ("leader", "controlfield", "datafield")
        for el in rec_el
    ):
        for el in rec_el.iter():
            if el is not rec_el and _localname(el.tag) == "record":
                rec_el = el
                break
    rec = Record()
    for el in rec_el:
        name = _localname(el.tag)
        if name == "leader":
            rec.leader = el.text or ""
        elif name == "controlfield":
            rec.fields.append(ControlField(el.get("tag", ""), el.text or ""))
        elif name == "datafield":
            df = DataField(
                el.get("tag", ""), el.get("ind1", " "), el.get("ind2", " ")
            )
            for sf in el:
                if _localname(sf.tag) == "subfield":
                    df.subfields.append(Subfield(sf.get("code", ""), sf.text or ""))
            rec.fields.append(df)
    return rec


def try_parse_record_xml(xml: str) -> Record | None:
    """Forgiving variant for the extract task: a snippet that is not
    well-formed XML (truncated page, pathological nesting the
    re-balancer could not close) returns None instead of crashing the
    whole Arrow batch — one broken page on a 100 TB crawl must cost
    one record, not a task retry storm.  Callers skip None (the
    reference reader is likewise forgiving)."""
    import xml.etree.ElementTree as ET

    try:
        return parse_record_xml(xml)
    except ET.ParseError:
        return None


def parse_collection_xml(xml: str) -> list[Record]:
    """Parse every record in a MARCXML/marcxchange collection document."""
    return [parse_record_xml(s) for s in find_record_strings(xml)]


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def record_to_xml(rec: Record) -> str:
    """Serialize a Record to a deterministic MARCXML ``<record>`` string
    (MARC21 slim layout, matching the fixture formatting)."""
    out = ["<record>"]
    if rec.leader:
        out.append(f"  <leader>{_xml_escape(rec.leader)}</leader>")
    for f in rec.fields:
        if f.is_control:
            out.append(
                f'  <controlfield tag="{f.tag}">{_xml_escape(f.value)}</controlfield>'
            )
        else:
            out.append(
                f'  <datafield tag="{f.tag}" ind1="{_xml_escape(f.ind1)}" '
                f'ind2="{_xml_escape(f.ind2)}">'
            )
            for sf in f.subfields:
                out.append(
                    f'    <subfield code="{_xml_escape(sf.code)}">'
                    f"{_xml_escape(sf.value)}</subfield>"
                )
            out.append("  </datafield>")
    out.append("</record>")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# Binary ISO 2709 (reference: MARC::ForgivingReader, marc2rdf.rb:50)
# ---------------------------------------------------------------------------

RECORD_TERMINATOR = b"\x1d"
FIELD_TERMINATOR = b"\x1e"
SUBFIELD_DELIMITER = b"\x1f"


def parse_iso2709(data: bytes, encoding: str = "utf-8") -> list[Record]:
    """Parse concatenated ISO 2709 records (forgiving: skip bad entries).

    Pure string slicing over leader/directory offsets — vectorizable in a
    pandas UDF batch (SURVEY.md §2.11 item 2).
    """
    records: list[Record] = []
    for chunk in data.split(RECORD_TERMINATOR):
        if len(chunk) < 24:
            continue
        leader = chunk[:24].decode(encoding, "replace")
        try:
            base = int(leader[12:17])
        except ValueError:
            continue
        directory = chunk[24 : base - 1]  # noqa: E203
        body = chunk[base:]
        rec = Record(leader=leader)
        for i in range(0, len(directory) - 11, 12):
            entry = directory[i : i + 12]  # noqa: E203
            tag = entry[:3].decode(encoding, "replace")
            try:
                length = int(entry[3:7])
                start = int(entry[7:12])
            except ValueError:
                continue
            raw = body[start : start + length].rstrip(FIELD_TERMINATOR)  # noqa: E203
            if tag < "010":
                rec.fields.append(
                    ControlField(tag, raw.decode(encoding, "replace"))
                )
            else:
                ind1 = raw[0:1].decode(encoding, "replace") or " "
                ind2 = raw[1:2].decode(encoding, "replace") or " "
                df = DataField(tag, ind1, ind2)
                for part in raw[2:].split(SUBFIELD_DELIMITER):
                    if part:
                        df.subfields.append(
                            Subfield(
                                part[:1].decode(encoding, "replace"),
                                part[1:].decode(encoding, "replace"),
                            )
                        )
                rec.fields.append(df)
        if rec.fields:
            records.append(rec)
    return records


def record_to_iso2709(rec: Record, encoding: str = "utf-8") -> bytes:
    """Serialize one record to binary ISO 2709 (the inverse of
    ``parse_iso2709``; reference reads this format via
    MARC::ForgivingReader, /root/reference/marc2rdf.rb:50).  Leader
    length/base-address slots are recomputed; other leader positions are
    preserved from the record."""
    body = b""
    directory = b""
    for f in rec.fields:
        if f.is_control:
            data = f.value.encode(encoding) + FIELD_TERMINATOR
        else:
            data = (f.ind1 or " ").encode(encoding)[:1].ljust(1, b" ")
            data += (f.ind2 or " ").encode(encoding)[:1].ljust(1, b" ")
            for sf in f.subfields:
                data += (
                    SUBFIELD_DELIMITER
                    + sf.code.encode(encoding)[:1]
                    + sf.value.encode(encoding)
                )
            data += FIELD_TERMINATOR
        # ISO 2709 hard limits: the %04d/%05d directory slots cannot
        # represent larger values — emitting them would silently shift
        # every subsequent offset (ADVICE r1)
        if len(data) > 9999:
            raise ValueError(
                f"ISO 2709 field {f.tag} is {len(data)} bytes; "
                "directory length slot is 4 digits (max 9999)"
            )
        if len(body) > 99999:
            raise ValueError(
                f"ISO 2709 field offset {len(body)} exceeds the 5-digit "
                "directory slot (max 99999)"
            )
        directory += (
            f.tag.encode(encoding)[:3].ljust(3, b" ")
            + f"{len(data):04d}".encode()
            + f"{len(body):05d}".encode()
        )
        body += data
    base = 24 + len(directory) + 1
    total = base + len(body) + 1
    if total > 99999:
        raise ValueError(
            f"ISO 2709 record is {total} bytes; leader length slot is 5 "
            "digits (max 99999)"
        )
    leader = (rec.leader or " " * 24).ljust(24)[:24]
    leader = f"{total:05d}" + leader[5:12] + f"{base:05d}" + leader[17:]
    return (
        leader.encode(encoding)
        + directory
        + FIELD_TERMINATOR
        + body
        + RECORD_TERMINATOR
    )


# ---------------------------------------------------------------------------
# Plain-dict (Spark Row compatible) representation
# ---------------------------------------------------------------------------

def record_to_dict(rec: Record) -> dict:
    """Nested-dict form matching marc2rdf_spark.schema.RECORD_STRUCT."""
    return {
        "leader": rec.leader,
        "controlfields": [
            {"tag": f.tag, "value": f.value} for f in rec.fields if f.is_control
        ],
        "datafields": [
            {
                "tag": f.tag,
                "ind1": f.ind1,
                "ind2": f.ind2,
                "subfields": [
                    {"code": s.code, "value": s.value} for s in f.subfields
                ],
            }
            for f in rec.fields
            if not f.is_control
        ],
    }
