"""Job configuration: Library (tenant) + Mapping spec loading.

Reference: /root/reference/lib/library.rb (per-tenant URI base/prefix/
identifier tag, resource type) and /root/reference/lib/mapping.rb
(JSON mapping CRUD).  Driver-side config only — broadcast, never data
(SURVEY.md §2.1 S9).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES_DIR = os.path.join(_HERE, "fixtures")


@dataclass(frozen=True)
class Library:
    """Resource-URI minting config (libraries.json resource block)."""

    base: str = "http://example.com/"
    prefix: str = "id_"
    identifier_tag: str = "001"
    rdf_types: str = "BIBO.Document"
    preserve_on_update: tuple = (
        "FOAF.depiction",
        "REV.hasReview",
        "OWL.sameAs",
        "BIBO.isbn",
    )

    def mint_subject(self, record_id: str) -> str:
        """base + prefix + record[identifier_tag] (rdfmodeler.rb:14-15)."""
        return f"{self.base}{self.prefix}{record_id}"


# The test-spec variant used throughout rdfmodeler_spec.rb:99-101.
SPEC_LIBRARY = Library(
    base="http://data.deichman.no/resource/", prefix="tnr_", identifier_tag="001"
)


@dataclass
class Mapping:
    """A marc2rdf JSON mapping: {"tags": {tagPattern: rule}}."""

    tags: dict = field(default_factory=dict)
    id: str = ""
    name: str = ""

    @classmethod
    def load(cls, path: str, mapping_id: str | None = None) -> "Mapping":
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        if isinstance(data, list):  # mappings.json style: list of mappings
            entry = (
                next(e for e in data if e.get("id") == mapping_id)
                if mapping_id
                else data[0]
            )
            return cls(
                tags=entry["mapping"]["tags"],
                id=entry.get("id", ""),
                name=entry.get("name", ""),
            )
        # mapping_skeleton.json style: bare {"tags": …}
        return cls(tags=data["tags"], id=mapping_id or "skeleton")


def load_dummy_mapping() -> Mapping:
    return Mapping.load(os.path.join(FIXTURES_DIR, "mappings.json"), "dummy")


def load_skeleton_mapping() -> Mapping:
    return Mapping.load(os.path.join(FIXTURES_DIR, "mapping_skeleton.json"))
