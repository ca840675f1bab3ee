"""Exact string semantics shared by the pure-Python oracle and the Spark
column-expression builders (single source of truth — SURVEY.md §7 risk
register "exact string semantics").

Covers:
 - urlize / accent folding (reference: /root/reference/lib/string_replace.rb:19-83)
 - URI-vs-literal coercion (reference: /root/reference/lib/rdfmodeler.rb:35-47,
   Ruby ``URI.parse`` strictness: scheme AND host mandatory, RFC2396 charset)
 - mapping-regex dialect: Ruby (Onigmo) ``\\w/\\W/\\s/\\d`` are ASCII-only,
   matching Java's default — the Python twin therefore compiles mapping
   regexes with ``re.ASCII``.
 - N-Triples escaping.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# urlize accent map — numeric codepoints as in the reference table
# (/root/reference/lib/string_replace.rb:19-52; ISO-8859-1+ codepoints).
# Deliberately NOT Unicode NFD folding: byte-for-byte the same table.
# ---------------------------------------------------------------------------
CHAR_MAPPING: dict[str, list[int]] = {
    "E": [200, 201, 202, 203, 274],
    "e": [232, 233, 234, 235, 275],
    "A": [192, 193, 194, 195, 256],
    "a": [224, 225, 226, 227, 257],
    "C": [199],
    "c": [231],
    "O": [210, 211, 212, 213, 332],
    "o": [242, 243, 244, 245, 333],
    "I": [204, 205, 206, 207, 298],
    "i": [236, 237, 238, 239, 299],
    "U": [217, 218, 219, 220, 362],
    "u": [249, 250, 251, 252, 363],
    "N": [209],
    "n": [241],
    "Y": [221, 562],
    "y": [253, 255, 563],
    "Ae": [196, 198],
    "ae": [228, 230],
    "Oe": [214, 216],
    "oe": [246, 248],
    "Aa": [197],
    "aa": [229],
    "S": [7778],
    "s": [7779],
    "H": [7716],
    "h": [7717],
    "T": [7788],
    "t": [7789],
    "D": [7696],
    "d": [7697],
    "Th": [208, 222],
    "th": [240, 254],
}

# Split into a 1:1 table (drives F.translate / str.translate — the fast
# JVM path) and multi-char classes (chained regexp_replace).
SINGLE_FROM = "".join(
    chr(cp) for repl, cps in CHAR_MAPPING.items() if len(repl) == 1 for cp in cps
)
SINGLE_TO = "".join(
    repl for repl, cps in CHAR_MAPPING.items() if len(repl) == 1 for _ in cps
)
MULTI_CLASSES: list[tuple[str, str]] = [
    ("".join(chr(cp) for cp in cps), repl)
    for repl, cps in CHAR_MAPPING.items()
    if len(repl) > 1
]

_TRANSLATE_TABLE = str.maketrans(
    {**{f: t for f, t in zip(SINGLE_FROM, SINGLE_TO)},
     **{cls_char: repl for cls, repl in MULTI_CLASSES for cls_char in cls}}
)

# Ruby String#strip trims ASCII whitespace and NUL.
RUBY_STRIP_RE = r"^[\s\x00]+|[\s\x00]+$"
DEFAULT_URLIZE_STRIP = r"[^-_A-Za-z0-9]"


_RUBY_STRIP = re.compile(RUBY_STRIP_RE, re.ASCII)


def py_ruby_strip(s: str) -> str:
    """Ruby String#strip twin: ASCII whitespace + NUL only.  re.ASCII
    is load-bearing — Python's unicode ``\\s`` also eats \\x1c-\\x1f,
    \\x85 and \\xa0, which Ruby's strip (and Java's default ``\\s`` on
    the Column side) keep.  Found by the hypothesis parity property
    (tests/test_textsem_property.py) on '\\x1f'."""
    return _RUBY_STRIP.sub("", s)


def py_replacecharacters(s: str) -> str:
    return s.translate(_TRANSLATE_TABLE)


def py_urlize(
    s: str,
    downcase: bool = True,
    convert_spaces: bool = True,
    regexp: str = DEFAULT_URLIZE_STRIP,
) -> str:
    """Python twin of String#urlize (string_replace.rb:74-83)."""
    out = py_replacecharacters(py_ruby_strip(s))
    if downcase:
        out = out.lower()
    if convert_spaces:
        out = out.replace(" ", "_")
    return re.sub(re.compile(regexp, re.ASCII), "", out)


# ---------------------------------------------------------------------------
# URI-vs-literal coercion (generate_uri, rdfmodeler.rb:35-47)
#
# Ruby ``URI.parse`` (RFC2396 parser) raises on any character outside the
# RFC2396 uric set; on success the value is URI iff scheme && host.
# Both engines evaluate the SAME two regexes below.
# ---------------------------------------------------------------------------
# RFC2396 uric: reserved(;/?:@&=+$,) | unreserved(alnum -_.!~*'()) | %hex,
# plus '#' fragment delimiter and '[]' (Ruby parser accepts IPv6 refs).
URI_ALLOWED_RE = r"^[A-Za-z0-9;/?:@&=+$,\-_.!~*'()%#\[\]]*$"
# scheme '://' non-empty authority char (not a delimiter)
URI_SCHEME_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]"

_ALLOWED = re.compile(URI_ALLOWED_RE)
_SCHEME_HOST = re.compile(URI_SCHEME_HOST_RE)


def py_is_uri(s: str) -> bool:
    return bool(_ALLOWED.match(s)) and bool(_SCHEME_HOST.match(s))


# ---------------------------------------------------------------------------
# regex dialect helpers
# ---------------------------------------------------------------------------

def py_mapping_regex(pattern: str) -> re.Pattern:
    """Compile a mapping-supplied regex with Ruby/Java-compatible ASCII
    character classes."""
    return re.compile(pattern, re.ASCII)


def ruby_split(s: str, pattern: str) -> list[str]:
    """Ruby ``String#split(/re/)`` incl. capture-group pieces, then the
    caller drops empties (rdfmodeler.rb:90-91).  Python ``re.split`` with
    the same pattern yields the same pieces (captures interleaved); empty
    and None entries are removed exactly as the reference's delete_if."""
    return [p for p in re.split(py_mapping_regex(pattern), s) if p]


def ruby_scan_last(s: str, pattern: str) -> str | None:
    """Last match of Ruby ``scan`` loops where each iteration overwrites
    the result (rdfmodeler.rb:99-101,209-211,221-227). Mapping origs
    contain no capture groups (verified over mapping_skeleton.json), so
    the match is the whole matched string."""
    last = None
    for m in py_mapping_regex(pattern).finditer(s):
        last = m.group(0)
    return last
