"""Seeded benchmark inputs and their expected outputs.

Everything here is pure Python: inputs are written as parquet with
pyarrow before the Spark session starts, and the expected outputs are
computed once per seed, outside every timed window.

* ``convert`` pages come from ``sources.synth``: the seed selects the
  page-index range, so the corpus keeps its stale re-crawls and heavy
  authority reuse.
* ``convert_unique`` is the same range, but every subfield of a tag whose
  mapping rule has a relation block (the tags that mint authority nodes)
  gets a seeded per-record token, so records share almost no triples.
* ``link_cc`` is a triples table, an authority table and alias sameAs
  chains with a known true authority for most mentions, a Zipf head that
  makes hot blocks, and chains long enough for several CC rounds.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from marc2rdf_spark.config import Library
from marc2rdf_spark.marc import record_to_xml
from marc2rdf_spark.oracle.converter import OracleConverter
from marc2rdf_spark.plans.pipeline import TRIPLE_COLS, load_mapping
from marc2rdf_spark.sources.synth import DUP_EVERY, gen_page, variant_record
from marc2rdf_spark.vocab import RDF_TYPE

MAPPING = "skeleton"
N_PAGES = 600  # pages per convert job (plus a stale re-crawl every DUP_EVERY)
N_FILES = 4  # parquet files per table: one scan task per core

# link_cc shape
N_AUTHORITIES = 1000
N_MENTIONS = 6000
TRUE_SHARE = 0.75  # mentions generated from a known authority
TYPO_SHARE = 0.25  # of those, one letter changed instead of a case/punct variant
ZIPF_S = 1.4
N_CHAINS = 100
CHAIN_LEN = 64
HOT_BLOCK_MIN = 1000  # link_mentions' default salting threshold

LABEL_PRED = "http://def.bibsys.no/xmlns/radatana/1.0#catalogueName"
PREF_LABEL = "http://www.w3.org/2004/02/skos/core#prefLabel"
CREATOR = "http://purl.org/dc/terms/creator"
TITLE = "http://purl.org/dc/terms/title"
PERSON = "http://xmlns.com/foaf/0.1/Person"
DOCUMENT = "http://purl.org/ontology/bibo/Document"

TRIPLE_ARROW = pa.schema(
    [
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("obj_is_uri", pa.bool_()),
        ("lang", pa.string()),
        ("dtype", pa.string()),
    ]
)
PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# fingerprints: order-independent (count, hash sum) of a triple set
# ---------------------------------------------------------------------------

SEP = "\x1f"
NUL = "\x00"


def triple_key(t) -> str:
    """The string both sides hash; Spark builds the same one in
    ``jobs.fingerprint``."""
    s, p, o, is_uri, lang, dtype = t
    return SEP.join(
        [
            s if s is not None else NUL,
            p if p is not None else NUL,
            o if o is not None else NUL,
            NUL if is_uri is None else ("true" if is_uri else "false"),
            lang if lang is not None else NUL,
            dtype if dtype is not None else NUL,
        ]
    )


def key_hash(key: str) -> int:
    return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:15], 16)


def fingerprint(triples) -> tuple[int, int]:
    """(count, sum of 60-bit hashes) of a set of triples."""
    uniq = set(triples)
    return len(uniq), sum(key_hash(triple_key(t)) for t in uniq)


def gate(actual: tuple[int, int], expected: tuple[int, int]) -> bool:
    """The correctness gate: the committed set must equal the expected
    set.  A job whose output fails it counts as failed."""
    return tuple(actual) == tuple(expected)


def corrupted(triples: set) -> set:
    """The expected set with one triple changed: the gate must reject a
    correct output against it (negative self-test)."""
    out = set(triples)
    victim = min(out)
    out.discard(victim)
    out.add((*victim[:2], victim[2] + "#corrupt", *victim[3:]))
    return out


# ---------------------------------------------------------------------------
# convert / convert_unique
# ---------------------------------------------------------------------------


def page_start(seed: int) -> int:
    return (seed % 100_000) * N_PAGES


def _authority_tags() -> set[str]:
    """Tags whose mapping rule has a relation block (they mint authority
    nodes), e.g. 100/600/650/700."""
    tags: set[str] = set()
    for key, rule in load_mapping(MAPPING).tags.items():
        if "relation" in repr(rule):
            tags.update(key.split("|"))
    return tags


# relator codes pick the predicate (700 conditions), not the node
_KEEP_CODES = {"e", "4"}


def _token(seed: int, i: int) -> str:
    return hashlib.blake2b(f"{seed}/{i}".encode(), digest_size=5).hexdigest()


def _unique_record(rec, seed: int, i: int, tags: set[str]):
    tok = _token(seed, i)
    for f in rec.fields:
        if not f.is_control and f.tag in tags:
            for sf in f.subfields:
                if sf.code not in _KEEP_CODES:
                    sf.value = sf.value + tok
    return rec


@dataclass
class ConvertInputs:
    pages_dir: str
    expected: set = field(repr=False)
    fp: tuple[int, int] = (0, 0)
    raw_triples: int = 0
    cross_record_dup_frac: float = 0.0


def _write_files(rows: list[dict], schema: pa.Schema, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = max(1, min(N_FILES, len(rows)))
    for k in range(n):
        part = rows[k::n]
        cols = {name: [r[name] for r in part] for name in schema.names}
        pq.write_table(
            pa.table(cols, schema=schema),
            os.path.join(out_dir, f"part-{k:03d}.parquet"),
        )


def _convert_pages(seed: int, unique: bool, start: int, n: int):
    """(page rows, post-last-write-wins records) for pages [start, start+n)."""
    tags = _authority_tags() if unique else set()
    rows, records = [], []
    for i in range(start, start + n):
        page = gen_page(i)
        rec = variant_record(i)
        if unique:
            old = record_to_xml(rec)
            rec = _unique_record(rec, seed, i, tags)
            new = record_to_xml(rec)
            page["text"] = page["text"].replace(old, new)
            page["html"] = page["html"].decode().replace(old, new).encode()
        rows.append(page)
        records.append(rec)
        if i % DUP_EVERY == 0:
            rows.append(gen_page(i, stale=True))
    return rows, records


def make_convert(seed: int, unique: bool, out_dir: str,
                 n_pages: int = N_PAGES) -> ConvertInputs:
    rows, records = _convert_pages(seed, unique, page_start(seed), n_pages)
    _write_files(rows, PAGES_ARROW, out_dir)
    conv = OracleConverter(load_mapping(MAPPING), Library())
    per_record = [conv.convert(r) for r in records]
    raw = sum(len(p) for p in per_record)
    within = sum(len(set(p)) for p in per_record)
    expected = {t for p in per_record for t in p}
    return ConvertInputs(
        pages_dir=out_dir,
        expected=expected,
        fp=fingerprint(expected),
        raw_triples=raw,
        cross_record_dup_frac=(within - len(expected)) / max(raw, 1),
    )


# ---------------------------------------------------------------------------
# link_cc
# ---------------------------------------------------------------------------

_SYL = ["ka", "ri", "to", "ve", "lan", "mor", "sel", "dun", "bi", "ko",
        "ta", "nes", "vik", "or", "ha", "gen", "lu", "sta", "fe", "ber",
        "jo", "rim", "al", "dro", "pe", "mi", "sun", "ne", "gar", "tes"]
_DIS = ["qu", "zy", "xo", "wh", "yp", "zu", "qy", "xe", "wy", "zo",
        "oq", "ux", "yz", "iw", "ex"]  # distractor names share no syllable


def _name(rng: random.Random, syl: list[str]) -> str:
    def word(k: int) -> str:
        return "".join(rng.choice(syl) for _ in range(k)).capitalize()

    return f"{word(rng.randint(2, 3))}, {word(rng.randint(2, 3))}"


def _surface(rng: random.Random, label: str) -> str:
    """A variant that normalizes to the same string (case/punctuation)."""
    return rng.choice(
        [label, label.upper(), label.lower(), label + ".", " " + label + " "]
    )


def _typo(rng: random.Random, label: str) -> str:
    pos = [k for k, ch in enumerate(label) if ch.isalpha()]
    k = rng.choice(pos[2:])
    ch = label[k].lower()
    repl = rng.choice([c for c in "abcdefghijklmnopqrstuvwxyz" if c != ch])
    return label[:k] + repl + label[k + 1:]


@dataclass
class LinkInputs:
    triples_dir: str
    authorities_dir: str
    aliases_dir: str
    triples: list = field(repr=False)
    aliases: list = field(repr=False)
    truth: dict = field(repr=False)  # mention_uri -> auth_id
    head_exact: int = 0  # mentions of the Zipf head with its exact label


def make_link(seed: int, out_dir: str, n_auth: int = N_AUTHORITIES,
              n_mentions: int = N_MENTIONS, n_chains: int = N_CHAINS,
              chain_len: int = CHAIN_LEN) -> LinkInputs:
    rng = random.Random(f"link_cc/{seed}")
    labels: dict[str, str] = {}
    seen: set[str] = set()
    while len(labels) < n_auth:
        lab = _name(rng, _SYL)
        if lab.lower() not in seen:
            seen.add(lab.lower())
            labels[f"http://auth.example.org/a/{seed}-{len(labels)}"] = lab
    # The seed draws names, the ranking and typos; the shape (mentions
    # per rank, which mentions get a typo, chain orientation) is the same
    # for every seed, so seeds differ in content, not in the amount of work.
    shape = random.Random("link_cc/shape")
    ranked = list(labels)
    rng.shuffle(ranked)
    # Zipf over the ranking: the head authority gets enough same-label
    # mentions to fill a hot block in every MinHash band
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n_auth)]

    triples, truth = [], {}
    head_exact = 0
    n_true = int(n_mentions * TRUE_SHARE)
    picks = shape.choices(range(n_auth), weights=weights, k=n_true)
    for j in range(n_mentions):
        m = f"http://data.example.org/person/x{seed}-{j}"
        if j < n_true:
            a = ranked[picks[j]]
            truth[m] = a
            if shape.random() < TYPO_SHARE:
                lab = _typo(rng, labels[a])
            else:
                lab = _surface(shape, labels[a])
                head_exact += picks[j] == 0
        else:
            lab = _name(rng, _DIS)
        triples.append((m, LABEL_PRED, lab, False, None, None))
        triples.append((m, RDF_TYPE, PERSON, True, None, None))
        rec = f"http://example.com/id_{seed}-{j // 2}"
        triples.append((rec, CREATOR, m, True, None, None))
        if j % 2 == 0:
            triples.append((rec, TITLE, f"Title {j // 2}", False, None, None))
            triples.append((rec, RDF_TYPE, DOCUMENT, True, None, None))
    for a, lab in labels.items():
        triples.append((a, PREF_LABEL, lab, False, "no", None))
        triples.append((a, RDF_TYPE, PERSON, True, None, None))

    # alias chains hang off head-ranked authorities; "alias" sorts before
    # "auth" and "data", so the chain end becomes the component label
    aliases = []
    for c in range(n_chains):
        prev = ranked[c]
        for k in range(chain_len):
            node = f"http://alias.example.org/v/{seed}-{c}-{rng.getrandbits(40):010x}"
            aliases.append((node, prev) if shape.random() < 0.5 else (prev, node))
            prev = node

    tdir = os.path.join(out_dir, "triples")
    adir = os.path.join(out_dir, "authorities")
    sdir = os.path.join(out_dir, "aliases")
    _write_files(
        [dict(zip(TRIPLE_COLS, t)) for t in triples], TRIPLE_ARROW, tdir
    )
    _write_files(
        [{"auth_id": a, "label": lab} for a, lab in labels.items()],
        pa.schema([("auth_id", pa.string()), ("label", pa.string())]),
        adir,
    )
    _write_files(
        [{"left_uri": a, "right_uri": b} for a, b in aliases],
        pa.schema([("left_uri", pa.string()), ("right_uri", pa.string())]),
        sdir,
    )
    return LinkInputs(
        triples_dir=tdir, authorities_dir=adir, aliases_dir=sdir,
        triples=triples, aliases=aliases, truth=truth,
        head_exact=head_exact,
    )


def components(edges) -> dict[str, str]:
    """Driver-side union-find: node -> lexicographically smallest member
    of its component (the ``connected_components`` contract)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
            parent.setdefault(lo, lo)
    return {x: find(x) for x in parent}


def canonical(triples, comp: dict[str, str]) -> set:
    """The canonical triple set: subj always, obj only when it is a URI."""
    out = set()
    for s, p, o, is_uri, lang, dtype in triples:
        out.add((
            comp.get(s, s), p, comp.get(o, o) if is_uri else o,
            is_uri, lang, dtype,
        ))
    return out
