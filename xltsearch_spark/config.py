"""Index configuration — mirrors the reference's Config knobs.

The reference persists a named config per index dir with keys
``hash.algorithm / lucene.version / lucene.analyzer / scoring.model /
directory.type / index.fields / last.updated`` (``Config.java:100-107``,
``config.defaults:1-7``) and *invalidates the index on any change*
(``Config.java:289-297,314-318``). We reproduce that contract: the config is
hashed; the hash is stored in the index metadata; a mismatch at query/build
time surfaces INDEX_INVALIDATED and forces a rebuild.

``last.updated`` sentinels follow ``Config.java:52-54``:
-1 UPDATE_FAILED, -2 NEVER_CREATED, -3 INVALIDATED.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, asdict

# Config.java:52-54 lifecycle sentinels
INDEX_UPDATE_FAILED = -1
INDEX_NEVER_CREATED = -2
INDEX_INVALIDATED = -3

# Registries mirror Config.java's PROPERTY_MAP enumerations (Config.java:60-98).
HASH_ALGORITHMS = ("md5", "sha1", "sha256")  # Config.java:60-65; BASELINE fixes sha256
ANALYZERS = ("standard", "classic", "uax29urlemail", "english", "code")  # Config.java:72-78 + code-aware
SCORING_MODELS = ("bm25", "default")  # Config.java:80-84 ("Default"=TF-IDF DefaultSimilarity)


class ConfigError(ValueError):
    """Unresolvable config value — mirrors Config.resolve failures (Config.java:199-217)."""


@dataclass(frozen=True)
class IndexConfig:
    """One named index configuration (= one index per name, Catalog.java:61-95)."""

    name: str = "default"
    hash_algorithm: str = "sha256"   # BASELINE.json mandates sha256 row invariant
    analyzer: str = "standard"       # config.defaults:3
    scoring_model: str = "bm25"      # reference default is "Default"; north rule mandates BM25
    k1: float = 1.2                  # BM25Similarity defaults (Lucene 4.6)
    b: float = 0.75
    quantize_norms: bool = True      # Lucene 8-bit floatToByte315 norm quantization
    max_token_length: int = 255      # StandardTokenizer default maxTokenLength
    block_size: int = 128            # postings docs per block (skip/block-max granularity)
    doc_range_size: int = 1 << 16    # docs per doc-range bucket (two-level merge unit)
    # on-disk term-hash bucket count: the `bucket` directory level of the
    # dictionary and postings tables. Not a task count; the build sizes
    # its tasks from the input (operators/_parallel.sized_partition_count)
    term_buckets: int = 64
    # run the B3 parse/extract stage (operators/parse.py) on `content`
    # before tokenization — the reference's Tika step inside the pipeline
    # (ParseTask.java:55-77): markup becomes text, and `format` /
    # `parse_status` become queryable keyword fields. hashsum stays the
    # sha256 of the RAW content (the row invariant hashes input bytes).
    parse_content: bool = False
    # parse-failure contract: False (default) = reference parity — a doc
    # whose parse fails is NOT indexed at all (ParseTask sets Status.PASS
    # on error, ParseTask.java:70-75, and IndexTask's `case PASS: break;`
    # skips it). True = EXTENSION beyond the reference: failed docs stay
    # indexed metadata-only (parse_status:failed queryable, counted in
    # N/avgdl) so they remain discoverable.
    parse_keep_failed: bool = False
    # position gap between instances of a MULTI-VALUED field (Tika metadata,
    # Config.java:112-144; one Lucene field added per value,
    # IndexTask.java:74-78). 0 = vanilla Analyzer.getPositionIncrementGap:
    # positions continue across instances, phrases can match the boundary.
    position_increment_gap: int = 0

    def __post_init__(self) -> None:
        if self.hash_algorithm not in HASH_ALGORITHMS:
            raise ConfigError(f"unknown hash.algorithm: {self.hash_algorithm!r}")
        if self.analyzer not in ANALYZERS:
            raise ConfigError(f"unknown lucene.analyzer: {self.analyzer!r}")
        if self.scoring_model not in SCORING_MODELS:
            raise ConfigError(f"unknown scoring.model: {self.scoring_model!r}")

    def config_hash(self) -> str:
        """Stable digest of every semantics-affecting knob.

        Stored in index metadata; any change invalidates the index, exactly
        as Config.setProperty → INDEX_INVALIDATED (Config.java:289-297).
        """
        d = asdict(self)
        d.pop("name")  # renaming a config does not invalidate its contents
        payload = json.dumps(d, sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()
