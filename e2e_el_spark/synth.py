"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md).

Everything is a pure function of ``(seed, index)`` — no wall clock, no
external data — so the same call is reproducible across reruns, partitions,
and parallelism levels (the determinism property the north rule requires).

Shapes mirror the reference's own fixture corpus ``data/dummy_aida/``
(`/root/reference/utils_E2E_exhaustive.py:21-22`) generalized to the
BASELINE.json ``input_hint`` pages table:

    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
    entities(entity_id STRING, type STRING, name STRING)          -- the KB
    mentions(mention_id, document_id, start_index, end_index, text, type,
             label_candidate_id)                                   -- gold

``text`` is constructed by running :func:`e2e_el_spark.extract.extract_text`
on the generated ``html``, so the byte-identical invariant holds by
construction and is *verified* (not assumed) by tests.

Entity frequency is Zipf-skewed so hot blocking keys exist — the per-block
caps and AQE skew handling (SURVEY.md §4 custom work #1) are exercised by real
skew, not mocked.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from typing import Iterable, Iterator

import pandas as pd

from e2e_el_spark.extract import extract_text

# ---------------------------------------------------------------------------
# Deterministic PRNG primitives: everything below derives from sha256 of a
# string key — stable across Python versions (unlike random.Random's
# float generation guarantees) and across processes (unlike hash()).
# ---------------------------------------------------------------------------


def _h64(key: str) -> int:
    return int.from_bytes(hashlib.sha256(key.encode("utf-8")).digest()[:8], "big")


def _rint(key: str, n: int) -> int:
    """Deterministic integer in [0, n)."""
    return _h64(key) % n


def _rfloat(key: str) -> float:
    """Deterministic float in [0, 1)."""
    return _h64(key) / 2.0**64


_ADJ = [
    "amber", "brisk", "coral", "dusty", "ember", "frost", "gleam", "hazel",
    "ivory", "jade", "keen", "lunar", "maple", "noble", "ocean", "pale",
    "quiet", "rustic", "slate", "tidal", "umber", "vivid", "wild", "zesty",
]
_NOUN = [
    "anchor", "beacon", "cascade", "dynamo", "engine", "falcon", "garnet",
    "harbor", "island", "jigsaw", "kernel", "lantern", "meadow", "nectar",
    "orchard", "prairie", "quarry", "ridge", "summit", "timber", "upland",
    "valley", "willow", "zenith",
]
_ORG = ["labs", "works", "systems", "group", "holdings", "partners", "industries", "corp"]
_TYPES = ["ORG", "PRODUCT", "PLACE", "MISC"]
_FILLER = (
    "the of a in on at for with from by about into over after under between "
    "report update notes review summary analysis market data study survey "
    "results overview archive record item page section detail entry index"
).split()
_LANGS = ["en", "en", "en", "en", "en", "en", "de", "fr"]

EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def canonical_name(seed: int, eidx: int) -> str:
    a = _ADJ[_rint(f"{seed}/e/{eidx}/a", len(_ADJ))]
    n = _NOUN[_rint(f"{seed}/e/{eidx}/n", len(_NOUN))]
    o = _ORG[_rint(f"{seed}/e/{eidx}/o", len(_ORG))]
    # disambiguating numeral keeps names unique across a small word space
    return f"{a} {n} {o} {eidx}"


def entity_aliases(seed: int, eidx: int) -> list[str]:
    """Canonical + deterministic surface variants (typo, abbreviation, case).

    Near-duplicate variants exercise Jaro-Winkler / TF-IDF separation the
    same way the reference's mention surface forms differ from entity
    canonical names (`/root/reference/candidate_selection.py:102-216`).
    """
    name = canonical_name(seed, eidx)
    words = name.split(" ")
    variants = [name]
    # typo: swap two interior chars of the first word
    w0 = words[0]
    if len(w0) >= 4:
        p = 1 + _rint(f"{seed}/e/{eidx}/typo", len(w0) - 3)
        typo = w0[:p] + w0[p + 1] + w0[p] + w0[p + 2:]
        variants.append(" ".join([typo] + words[1:]))
    # drop the org suffix ("amber anchor 12" style shorthand)
    variants.append(" ".join(words[:2] + words[3:]))
    # title-case variant
    variants.append(name.title())
    return variants


def entity_catalog(seed: int, n_entities: int) -> list[dict]:
    """The KB: small dimension destined for F.broadcast (SURVEY.md §1.3)."""
    out = []
    for e in range(n_entities):
        out.append(
            {
                "entity_id": f"E{e:06d}",
                "type": _TYPES[_rint(f"{seed}/e/{e}/t", len(_TYPES))],
                "name": canonical_name(seed, e),
            }
        )
    return out


def _zipf_entity(seed: int, key: str, n_entities: int, skew: float = 1.1) -> int:
    """Zipf-skewed entity pick: rank-1 entities are hot (skewed block keys)."""
    u = max(_rfloat(key), 1e-12)
    rank = int(math.exp(math.log(n_entities) * (u ** skew)))
    return min(max(rank - 1, 0), n_entities - 1)


def gen_page(seed: int, i: int, n_entities: int, size_mult: int = 1) -> dict:
    """One page + its gold mentions. Pure function of (seed, i, n_entities,
    size_mult). ``size_mult`` scales paragraph/mention counts — bench corpora
    use larger pages (real Common-Crawl pages are KBs, not a tweet)."""
    lang = _LANGS[_rint(f"{seed}/p/{i}/lang", len(_LANGS))]
    n_mentions = (1 + _rint(f"{seed}/p/{i}/nm", 6)) * size_mult
    n_paras = (1 + _rint(f"{seed}/p/{i}/np", 3)) * size_mult

    title_words = [
        _FILLER[_rint(f"{seed}/p/{i}/tw/{k}", len(_FILLER))] for k in range(3)
    ]
    title = " ".join(title_words)

    # Build paragraphs as word lists; splice mention surface forms in and
    # remember (paragraph, word position) so char offsets can be computed
    # against the final extracted text.
    paras: list[list[str]] = []
    for p in range(n_paras):
        n_words = 8 + _rint(f"{seed}/p/{i}/pw/{p}", 18)
        paras.append(
            [_FILLER[_rint(f"{seed}/p/{i}/w/{p}/{k}", len(_FILLER))] for k in range(n_words)]
        )

    mention_specs = []  # (para, word_pos, surface, entity_id)
    for m in range(n_mentions):
        eidx = _zipf_entity(seed, f"{seed}/p/{i}/me/{m}", n_entities)
        aliases = entity_aliases(seed, eidx)
        surface = aliases[_rint(f"{seed}/p/{i}/ma/{m}", len(aliases))]
        p = _rint(f"{seed}/p/{i}/mp/{m}", n_paras)
        pos = _rint(f"{seed}/p/{i}/mw/{m}", len(paras[p]) + 1)
        mention_specs.append((p, pos, surface, f"E{eidx:06d}"))

    # Insert mentions right-to-left per paragraph so earlier positions hold.
    for p, pos, surface, _eid in sorted(mention_specs, key=lambda t: (t[0], -t[1])):
        paras[p].insert(pos, surface)

    para_texts = [" ".join(ws) for ws in paras]
    html = (
        "<html><head><title>" + title + "</title></head><body>"
        + "".join(f"<p>{pt}</p>" for pt in para_texts)
        + "</body></html>"
    ).encode("utf-8")
    text = extract_text(html)  # invariant holds by construction

    # Char offsets of each mention in `text`: text = title \n para0 \n para1...
    para_start = []
    off = len(title) + 1
    for pt in para_texts:
        para_start.append(off)
        off += len(pt) + 1

    url = f"https://example.org/{seed}/{i}"
    mentions = []
    # Sort by (para, pos asc); multiple inserts shift later word positions.
    by_para: dict[int, list[tuple[int, str, str]]] = {}
    for p, pos, surface, eid in mention_specs:
        by_para.setdefault(p, []).append((pos, surface, eid))
    k = 0
    for p, specs in sorted(by_para.items()):
        words = paras[p]
        # locate each inserted surface by scanning the paragraph's words:
        # inserted surfaces occupy consecutive word slots; find them in
        # insertion order (left-to-right among the final word list).
        used: set[int] = set()
        for pos, surface, eid in sorted(specs):
            # each surface was spliced in as ONE list element, so an exact
            # element match (leftmost unused) recovers its word slot
            for w0 in range(len(words)):
                if w0 in used:
                    continue
                if words[w0] == surface:
                    used.add(w0)
                    start = para_start[p] + sum(len(w) + 1 for w in words[:w0])
                    end = start + len(surface)
                    mentions.append(
                        {
                            "mention_id": f"{url}#{k}",
                            "document_id": url,
                            "start_index": start,
                            "end_index": end,
                            "text": surface,
                            "type": "N/A",
                            "label_candidate_id": eid,
                        }
                    )
                    k += 1
                    break
    warc_ts = EPOCH + _dt.timedelta(seconds=i)
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": lang,
        "mentions": mentions,
    }


# ---------------------------------------------------------------------------
# Spark builders — distributed generation via mapInPandas over spark.range
# (no driver-side materialization; scales to any page count).
# ---------------------------------------------------------------------------

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
MENTIONS_SCHEMA = (
    "mention_id string, document_id string, start_index int, end_index int, "
    "text string, type string, label_candidate_id string"
)


def pages_df(spark, n_pages: int, n_entities: int = 200, seed: int = 42, partitions: int = 32,
             size_mult: int = 1):
    """Distributed pages table: spark.range → mapInPandas generator."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(seed, int(i), n_entities, size_mult) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"] for r in rows],
                    "text": [r["text"] for r in rows],
                    "lang": [r["lang"] for r in rows],
                }
            )

    return spark.range(0, n_pages, 1, partitions).mapInPandas(gen, PAGES_SCHEMA)


def gold_mentions_df(spark, n_pages: int, n_entities: int = 200, seed: int = 42, partitions: int = 32,
                     size_mult: int = 1):
    """Gold mention annotations for the same (seed, n_pages) corpus."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                recs.extend(gen_page(seed, int(i), n_entities, size_mult)["mentions"])
            yield pd.DataFrame(
                recs,
                columns=[
                    "mention_id", "document_id", "start_index", "end_index",
                    "text", "type", "label_candidate_id",
                ],
            )

    return spark.range(0, n_pages, 1, partitions).mapInPandas(gen, MENTIONS_SCHEMA)


def entities_df(spark, n_entities: int = 200, seed: int = 42, partitions: int | None = None):
    """KB dimension table (entity_id, type, name).

    Distributed generation (spark.range → mapInPandas), same pure
    per-entity functions as before — a 10⁵-10⁶-entity KB (the realistic
    candidate-dictionary scale, reference candidate_selection.py:28-37)
    must not be built as a driver-side Python list. Content is identical
    to the old driver-side path for any (seed, n_entities)."""
    parts = partitions or max(1, min(32, n_entities // 10_000 or 1))

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "entity_id": [f"E{e:06d}" for e in idx],
                    "type": [_TYPES[_rint(f"{seed}/e/{e}/t", len(_TYPES))] for e in idx],
                    "name": [canonical_name(seed, e) for e in idx],
                }
            )

    return spark.range(0, n_entities, 1, parts).mapInPandas(
        gen, "entity_id string, type string, name string"
    )


def aliases_df(spark, n_entities: int = 200, seed: int = 42, partitions: int | None = None):
    """Gazetteer: (entity_id, alias, n_tokens) — every surface variant.
    Distributed like :func:`entities_df` (≈4 aliases/entity: 4M rows at a
    1M-entity KB)."""
    parts = partitions or max(1, min(32, n_entities // 10_000 or 1))

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                e = int(i)
                eid = f"E{e:06d}"
                for a in entity_aliases(seed, e):
                    rows.append((eid, a, len(a.split(" "))))
            yield pd.DataFrame(rows, columns=["entity_id", "alias", "n_tokens"])

    return spark.range(0, n_entities, 1, parts).mapInPandas(
        gen, "entity_id string, alias string, n_tokens int"
    )


def via_parquet(df, path: str):
    """Write ``df`` to parquet at ``path`` and read it back, so Spark's
    broadcast rule sees the table's file size, as it would a stored KB. A
    generator frame above is estimated at 8 bytes per input-range row,
    whatever it emits (40 KB for a 5k-entity KB's 20k aliases; parquet:
    235 KB; 8 MB for the ~4M aliases of a 10^6-entity KB)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
