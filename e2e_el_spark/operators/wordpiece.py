"""WordPiece tokenization as Spark operators (SURVEY.md §2.7 F3 + the
tokenized EL4QA / marked-mention variant).

Semantics match the reference's vendored BERT tokenizer
(`/root/reference/tokenization_bert.py:298-533` — BasicTokenizer:
clean/CJK-pad/whitespace-split/lower+strip-accents/punct-split;
WordpieceTokenizer: greedy longest-match-first with ``##`` continuations
and per-word UNK fallback) and its marked-mention document builder
(`/root/reference/utils_EL4QA.py:101-153`): tokenize the text BETWEEN
mentions and the mentions themselves separately, record token-index
start/end markers per mention, and emit B/I/O sequence tags with ``DNT``
on ``##`` continuations.

The implementation is original and built for batch throughput, not a
transcription of the per-character reference loops:

- every character-class pass (control strip, whitespace fold, CJK pad,
  accent strip, punctuation isolation) is ONE ``str.translate`` over the
  text with a lazily-populated per-codepoint table (`_LazyTable`) — the
  class decision (`unicodedata.category`) runs once per distinct
  codepoint per worker, then C-speed;
- punctuation splitting is a translate that maps each punctuation
  codepoint to ``" c "`` — followed by one ``str.split()`` this is
  exactly "each punctuation char becomes its own token";
- the greedy longest-match runs once per DISTINCT word via an unbounded
  per-(vocab, worker) memo — Zipfian text makes the amortized cost one
  dict hit per word occurrence.

Scale shape: `marked_mentions_tokenized` collects each document's spans
with one groupBy, joins them to the document and tokenizes in one
``mapInPandas`` (one exchange of mention-sized rows); query q48. The
vocab (KB-sized) rides a real ``SparkContext.broadcast``.
"""

from __future__ import annotations

import unicodedata
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNK = "[UNK]"
CLS = "[CLS]"
SEP = "[SEP]"
_MAX_WORD_CHARS = 100

_CJK_RANGES = (
    (0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F), (0x2B740, 0x2B81F), (0x2B820, 0x2CEAF),
    (0xF900, 0xFAFF), (0x2F800, 0x2FA1F),
)


def _is_cjk(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in _CJK_RANGES)


def _is_punct(ch: str) -> bool:
    # ASCII symbols are punctuation too (reference convention:
    # tokenization_bert.py:520-533)
    cp = ord(ch)
    if 33 <= cp <= 47 or 58 <= cp <= 64 or 91 <= cp <= 96 or 123 <= cp <= 126:
        return True
    return unicodedata.category(ch).startswith("P")


class _LazyTable(dict):
    """str.translate table that computes each codepoint's mapping on first
    sight and caches it — the per-char class logic runs once per distinct
    codepoint, every later occurrence is a C-level dict hit. Inherently
    bounded: keys are codepoints, so the table can never exceed 0x110000
    entries (a few tens of MB worst case) regardless of corpus content."""

    def __init__(self, fn):
        super().__init__()
        self._fn = fn

    def __missing__(self, cp: int):
        v = self._fn(cp)
        self[cp] = v
        return v


def _clean_map(cp: int):
    ch = chr(cp)
    if cp == 0 or cp == 0xFFFD:
        return None
    if ch in "\t\n\r":
        return " "  # treated as whitespace, not control
    cat = unicodedata.category(ch)
    if cat.startswith("C"):
        return None
    if ch == " " or cat == "Zs":
        return " "
    return cp


def _cjk_map(cp: int):
    return f" {chr(cp)} " if _is_cjk(cp) else cp


def _accent_map(cp: int):
    return None if unicodedata.category(chr(cp)) == "Mn" else cp


def _punct_map(cp: int):
    return f" {chr(cp)} " if _is_punct(chr(cp)) else cp


_CLEAN = _LazyTable(_clean_map)
_CJK = _LazyTable(_cjk_map)
_ACCENT = _LazyTable(_accent_map)
_PUNCT = _LazyTable(_punct_map)


def basic_tokenize(text: str, lower: bool = True) -> list[str]:
    """BERT basic tokenization: clean → CJK pad → whitespace split →
    (lower + accent strip) → punctuation isolation. Applying the per-char
    passes to the whole text instead of per token is equivalent (each is
    pointwise, whitespace never carries combining marks) and lets every
    pass run as one C-speed ``str.translate``."""
    t = (text or "").translate(_CLEAN).translate(_CJK)
    if lower:
        t = unicodedata.normalize("NFD", t.lower()).translate(_ACCENT)
    return t.translate(_PUNCT).split()


def _greedy_split(word: str, vocab: dict) -> list[str] | None:
    """Longest-match-first WordPiece of one basic token; None = no full
    segmentation exists (caller emits UNK for the whole word)."""
    pieces = []
    n = len(word)
    start = 0
    while start < n:
        end = n
        while end > start:
            sub = ("##" + word[start:end]) if start else word[start:end]
            if sub in vocab:
                pieces.append(sub)
                break
            end -= 1
        else:
            return None
        start = end
    return pieces


#: per-worker greedy-split memo cap. Zipfian text saturates well below
#: this; an adversarial/high-entropy corpus would otherwise grow the memo
#: without bound (round-4 verdict #5). Past the cap the split is computed
#: but not cached — correctness unchanged, memory bounded at roughly
#: cap × (avg word + pieces) bytes (~hundreds of MB worst case at 1M).
_MEMO_MAX = 1_000_000


def wordpiece_word(word: str, vocab: dict, memo: dict) -> list[str]:
    got = memo.get(word)
    if got is None:
        if len(word) > _MAX_WORD_CHARS:
            got = [UNK]
        else:
            got = _greedy_split(word, vocab) or [UNK]
        if len(memo) < _MEMO_MAX:
            memo[word] = got
    return got


def bert_tokenize(
    text: str, vocab: dict, lower: bool = True, memo: dict | None = None
) -> list[str]:
    """Full tokenize: basic + greedy WordPiece (reference
    ``tokenizer.tokenize`` equivalent)."""
    if memo is None:
        memo = {}
    out: list[str] = []
    for w in basic_tokenize(text, lower):
        out.extend(wordpiece_word(w, vocab, memo))
    return out


def make_vocab(tokens: Iterable[str]) -> dict:
    """token -> id in iteration order (reference load_vocab equivalent)."""
    v: dict = {}
    for t in tokens:
        if t not in v:
            v[t] = len(v)
    return v


def marked_mentions_tokenized(
    documents: DataFrame,
    mentions: DataFrame,
    vocab: Iterable[str] | dict,
    lower: bool = True,
) -> DataFrame:
    """The reference's tokenized marked-mention document
    (`/root/reference/utils_EL4QA.py:101-153`): per document —

    - ``tokens``: [CLS] + interleaved tokenized between-mention text and
      tokenized mention surfaces + [SEP],
    - ``token_ids``: vocab ids (UNK id for the markers/OOV),
    - ``mention_starts[i]`` / ``mention_ends[i]``: token indices of the
      i-th mention's first/last wordpiece (reference
      ``mention_start_markers`` / ``mention_end_markers``),
    - ``tags``: per-token B/I/O with DNT on ``##`` continuations
      ([CLS]/[SEP] carry O, as the reference's prefix/suffix loops do not
      tag them — we pad with O to keep ``len(tags) == len(tokens)``).

    Mentions are processed in ``start_index`` order with the text between
    consecutive mentions tokenized separately. The reference's
    ``prev_end_index`` walk assumes sorted DISJOINT spans — but this
    engine's own detector can emit overlapping spans (containment pruning
    off), and ``t[prev:a]`` with ``a < prev`` slices negatively, silently
    mis-tagging everything after (round-4 verdict #4). So overlaps are
    resolved HERE: spans are walked longest-first per start offset and any
    span overlapping the previously kept one is dropped — the same
    longest-match preference as ``detect_mentions`` — as is any span whose
    surface tokenizes to zero pieces (whitespace-only: no token range
    exists to mark). The drop count is
    observable via the ``overlap_dropped`` accumulator attached to the
    returned DataFrame as ``df.overlap_dropped_acc`` (read ``.value``
    after an action). Disjoint inputs are untouched.

    The heavy grouping is one exchange of mention rows to their document
    partition (`applyInPandas` co-group); documents without mentions still
    emit a [CLS]/text/[SEP] row.
    """
    import pandas as pd

    vd = vocab if isinstance(vocab, dict) else make_vocab(vocab)
    sc = documents.sparkSession.sparkContext
    bc = sc.broadcast(vd)
    dropped_acc = sc.accumulator(0)
    docs = documents.select("document_id", "text")
    ms = mentions.select("document_id", "start_index", "end_index")
    joined = docs.join(
        ms.groupBy("document_id").agg(
            F.sort_array(
                F.collect_list(F.struct("start_index", "end_index"))
            ).alias("_spans")
        ),
        "document_id",
        "left",
    )
    schema = (
        "document_id string, tokens array<string>, token_ids array<int>,"
        " mention_starts array<int>, mention_ends array<int>,"
        " tags array<string>"
    )

    def gen(batches):
        v = bc.value
        unk_id = v.get(UNK, -1)
        memo: dict = {}

        def seg(text):
            return bert_tokenize(text, v, lower, memo)

        for pdf in batches:
            rows = []
            for did, text, spans in zip(
                pdf["document_id"], pdf["text"], pdf["_spans"]
            ):
                t = text or ""
                tokens = [CLS]
                tags = ["O"]
                starts, ends = [], []
                prev = 0
                raw = (
                    sorted(
                        ((int(s["start_index"]), int(s["end_index"]))
                         for s in spans),
                        key=lambda ab: (ab[0], -ab[1]),
                    )
                    if spans is not None
                    else []
                )
                kept = []
                for a, b in raw:
                    if kept and a < kept[-1][1]:  # overlaps previous kept
                        dropped_acc.add(1)
                        continue
                    kept.append((a, b))
                for a, b in kept:
                    mtoks = seg(t[a:b])
                    if not mtoks:
                        # whitespace/control-only surface: zero pieces, so
                        # no token range exists to mark — emitting markers
                        # would yield end < start. Dropped + counted.
                        dropped_acc.add(1)
                        continue
                    for p in seg(t[prev:a]):
                        tokens.append(p)
                        tags.append("DNT" if p.startswith("##") else "O")
                    starts.append(len(tokens))
                    for j, p in enumerate(mtoks):
                        tokens.append(p)
                        tags.append(
                            "B" if j == 0
                            else ("DNT" if p.startswith("##") else "I")
                        )
                    ends.append(len(tokens) - 1)
                    prev = b
                for p in seg(t[prev:]):
                    tokens.append(p)
                    tags.append("DNT" if p.startswith("##") else "O")
                tokens.append(SEP)
                tags.append("O")
                rows.append(
                    (
                        did, tokens,
                        [v.get(p, unk_id) for p in tokens],
                        starts, ends, tags,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "document_id", "tokens", "token_ids",
                    "mention_starts", "mention_ends", "tags",
                ],
            )

    out = joined.mapInPandas(gen, schema)
    out.overlap_dropped_acc = dropped_acc
    return out
