"""Gazetteer mention detection (SURVEY.md §2.9).

The reference detects mentions with a BIO tagging head / CRF / exhaustive
span enumeration (`/root/reference/modeling_E2E_exhaustive.py:61-133`,
`/root/reference/modeling_crf_ner.py:82-124`). Per the north star, this
engine's detector is a **dictionary/gazetteer matcher** (C6: exact
surface-form lookup, the reference's `mention_candidates_AIDA.py:14-31`)
that drops spans strictly contained in a longer match. It has one form and
one fallback: the fused matcher enumerates token n-gram spans and probes
the collected alias set inside one ``mapInPandas`` scan; past
``FUSED_MAX_ALIASES`` distinct aliases, the window form tokenizes with
character offsets (window cumulative sums), builds anchor-gated n-gram
spans with ``lead()`` windows and equi-joins them to the gazetteer.

Span invariant preserved: ``substr(text, start_index+1, end_index-start_index)
== text`` of the mention (`/root/reference/utils_E2E_exhaustive.py:92-94`).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: utf8 arrays carry int32 offsets — one chunk's value buffer must stay
#: under 2 GiB or the offset cumsum wraps negative (and
#: ``pa.Array.from_buffers`` does not validate, silently corrupting span
#: texts). Exhaustive 1..4-gram enumeration inflates text ~10×, so large
#: mapInPandas batches of big docs can genuinely cross this.
_UTF8_CHUNK_LIMIT = 2**31 - 1

#: distinct-alias limit of the fused detector's driver-side gazetteer
#: collect; past it ``detect_mentions`` falls back to the window form
FUSED_MAX_ALIASES = 2_000_000

logger = logging.getLogger(__name__)


def _utf8_from_lens(lens, values: bytes):
    """Zero-copy utf8 array from per-element byte lengths + a flat value
    buffer, split at element boundaries into <2 GiB chunks.

    Returns a ``pa.Array`` when one chunk suffices (the common case — the
    hot path is unchanged) else a ``pa.ChunkedArray``; every consumer in
    this module (``pc.utf8_lower`` / ``pc.index_in`` / ``.filter`` /
    ``pd.Series(ArrowDtype)``) accepts both.
    """
    import numpy as np
    import pyarrow as pa

    cum = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=cum[1:])
    if cum[-1] <= _UTF8_CHUNK_LIMIT:  # common case: one int32-safe chunk
        return pa.Array.from_buffers(
            pa.utf8(), len(lens),
            [None, pa.py_buffer(cum.astype(np.int32).tobytes()),
             pa.py_buffer(values)],
        )
    chunks = []
    start = 0
    while start < len(lens):
        base = int(cum[start])
        end = int(np.searchsorted(cum, base + _UTF8_CHUNK_LIMIT, side="right")) - 1
        if end <= start:
            # a single >2GiB element cannot come from a Spark string row
            # (UTF8String is itself int32-bounded) — fail loudly, not wrap
            raise ValueError("single string element exceeds 2 GiB")
        offs = (cum[start : end + 1] - base).astype(np.int32)
        chunks.append(
            pa.Array.from_buffers(
                pa.utf8(), end - start,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(values[base : int(cum[end])])],
            )
        )
        start = end
    return pa.chunked_array(chunks)


def tokenize_with_offsets(documents: DataFrame) -> DataFrame:
    """documents(document_id, text) →
    (document_id, pos, line, lpos, token, start, end).

    Tokens carry their LINE number: newlines are hard boundaries, so span
    windows never join tokens across a '\\n' (a cross-line span's text would
    no longer equal ``substr(text, start+1, end-start)`` — the module's span
    invariant). Character offsets into the ORIGINAL text are exact: line
    starts and within-line token starts are running sums over windows
    partitioned by (document_id) and (document_id, line) — no Python, no UDF
    (S6-style window trick, SURVEY.md §2.1). ``pos`` stays the global token
    index within the document.
    """
    lines = documents.select(
        "document_id", F.posexplode(F.split("text", "\n")).alias("line", "_line_text")
    )
    lw = (
        Window.partitionBy("document_id")
        .orderBy("line")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # both line-level running sums share ONE window pass: char offset of the
    # line, and how many tokens precede it (split on ' ' yields
    # n_spaces + 1 tokens per line) — the global token index then needs no
    # per-token row_number sort, just lpos + the line's token offset
    lines = lines.withColumn(
        "_line_start",
        F.coalesce(F.sum(F.length("_line_text") + F.lit(1)).over(lw), F.lit(0)),
    ).withColumn(
        "_tok_start",
        F.coalesce(F.sum(F.size(F.split("_line_text", " "))).over(lw), F.lit(0)),
    )
    toks = lines.select(
        "document_id", "line", "_line_start", "_tok_start",
        F.posexplode(F.split("_line_text", " ")).alias("lpos", "token"),
    )
    tw = (
        Window.partitionBy("document_id", "line")
        .orderBy("lpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = toks.withColumn(
        "start",
        (
            F.col("_line_start")
            + F.coalesce(F.sum(F.length("token") + F.lit(1)).over(tw), F.lit(0))
        ).cast("int"),
    ).withColumn("end", (F.col("start") + F.length("token")).cast("int"))
    return toks.select(
        "document_id",
        (F.col("_tok_start") + F.col("lpos")).cast("int").alias("pos"),
        "line",
        "lpos",
        "token",
        "start",
        "end",
    )


def candidate_spans(tokens: DataFrame, max_tokens: int = 4) -> DataFrame:
    """Token n-gram span candidates per document via lead() windows.

    Emits (document_id, start_index, end_index, text) for every window of
    1..max_tokens consecutive tokens — the DataFrame analogue of the
    reference's exhaustive span enumeration bounded by max_mention_length
    (N4: `/root/reference/modeling_E2E_exhaustive.py:87-104`). Windows are
    partitioned by (document_id, line): spans never cross a newline, keeping
    the span-text == substring invariant exact.
    """
    return _spans_window(tokens, max_tokens, anchors=None)


def alias_anchor_dim(gazetteer: DataFrame, max_tokens: int = 4) -> DataFrame:
    """(_anchor_first, _anchor_widths) — the necessary-condition dim for
    anchor-pruned gazetteer detection.

    For an exact (case-insensitive) surface match, the span's FIRST token
    must equal the alias's first token and the span's token COUNT must be
    one the alias set actually contains for that first token — both are
    consequences of full-string equality, so pruning on them is
    semantics-preserving for ANY gazetteer/corpus pair. Aliases longer than
    ``max_tokens`` can never match an enumerator bounded by ``max_tokens``
    and are dropped from the dim. Output is KB-sized (≤ one row per
    distinct alias first token); it only runs when the gazetteer is past
    the fused collect limit, so Spark's size rule, not a hint, decides
    whether it is broadcast.
    """
    return (
        gazetteer.select(F.split(F.lower("alias"), " ").alias("_aw"))
        .select(
            F.element_at("_aw", 1).alias("_anchor_first"),
            F.size("_aw").alias("_n"),
        )
        .filter((F.col("_n") >= 1) & (F.col("_n") <= max_tokens))
        .groupBy("_anchor_first")
        .agg(F.collect_set("_n").alias("_anchor_widths"))
    )


def _spans_window(
    tokens: DataFrame, max_tokens: int, anchors: DataFrame | None
) -> DataFrame:
    """lead()-window span enumeration, optionally anchor-pruned.

    With ``anchors`` (from :func:`alias_anchor_dim`), the 1..max_tokens
    explode, the span-text ``concat_ws`` and everything downstream run ONLY
    for tokens that start some alias, and only at widths that alias set
    contains — the lead() pass itself still sees every token (successor
    tokens of an anchor are arbitrary), but the 4× row expansion and the
    per-span string build collapse to the anchor rate (measured ~5-15% on
    web-like text). The anchor join sits between the window exec and the
    explode; Spark's size rule picks broadcast or shuffle for it.
    """
    w = Window.partitionBy("document_id", "line").orderBy("lpos")
    cols = tokens
    for j in range(1, max_tokens):
        cols = cols.withColumn(f"_tok{j}", F.lead("token", j).over(w)).withColumn(
            f"_end{j}", F.lead("end", j).over(w)
        )
    if anchors is not None:
        cols = cols.join(
            anchors, F.lower(F.col("token")) == F.col("_anchor_first"), "inner"
        )
    # ONE window pass + one explode of an array<struct> — not a 4-way union
    # that would re-evaluate the window per branch
    variants = []
    for n in range(1, max_tokens + 1):
        if n == 1:
            struct1 = F.struct(
                F.col("start").alias("start_index"),
                F.col("end").alias("end_index"),
                F.col("token").alias("text"),
            )
            if anchors is not None:
                struct1 = F.when(
                    F.array_contains(F.col("_anchor_widths"), 1), struct1
                )
            variants.append(struct1)
        else:
            parts = [F.col("token")] + [F.col(f"_tok{j}") for j in range(1, n)]
            cond = F.col(f"_tok{n-1}").isNotNull()
            if anchors is not None:
                cond = cond & F.array_contains(F.col("_anchor_widths"), n)
            variants.append(
                F.when(
                    cond,
                    F.struct(
                        F.col("start").alias("start_index"),
                        F.col(f"_end{n-1}").alias("end_index"),
                        F.concat_ws(" ", *parts).alias("text"),
                    ),
                )
            )
    return (
        cols.select("document_id", F.explode(F.array(*variants)).alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            "document_id",
            F.col("_s.start_index").alias("start_index"),
            F.col("_s.end_index").alias("end_index"),
            F.col("_s.text").alias("text"),
        )
    )


def _match_mentions_arrow(
    documents: DataFrame, aliases, max_tokens: int
) -> DataFrame:
    """Fused gazetteer matcher: anchor-pruned span enumeration AND alias
    lookup inside one zero-shuffle ``mapInPandas`` pass (the "fused arrow
    detect" follow-up recorded in BENCH/SCALING_EVIDENCE.md round 4).

    Only MATCHED spans ever leave the UDF: the token shuffle of the window
    form, the 1..max_tokens span explosion and the spans⋈gazetteer join all
    collapse into per-batch pyarrow C++ kernels — ``utf8_lower`` +
    ``index_in`` against the broadcast-closure alias arrays. The whole Arrow
    batch is one flat numpy problem: ASCII docs concatenate into a single
    '\\n'-separated byte buffer (spans never cross newlines, so doc
    boundaries are free), and span texts are built by grouped
    ``sliding_window_view`` gathers straight into a pyarrow string buffer,
    with no per-span Python object — only at anchor positions whose first
    token starts some alias at an allowed width (measured ~10-50× fewer
    span constructions than exhaustive enumeration on web-like text).
    Non-ASCII docs (byte ≠ char offsets) take a per-doc Python path.

    ``aliases`` is :func:`_fused_aliases`'s driver-side table (folded
    alias → min entity_id), collected, bounded, before plan construction —
    the Spark broadcast-variable pattern, same trade as
    ``operators.similarity``'s lazy-dim fallback.

    Case folding: aliases are collected RAW and folded driver-side with
    Python ``str.lower()`` — the SAME function the non-ASCII doc path
    probes with, so alias map and probe can never disagree. The ASCII doc
    path probes with utf8proc (``pc.utf8_lower``), which is byte-identical
    to ``str.lower()`` on the pure-ASCII spans that path matches, so the
    one folding is consistent across both fused sub-paths (round-4 verdict
    carried three divergent foldings here). The window fallback folds
    both sides with JVM ``lower()`` — internally consistent; Python and
    Java 17 both track recent Unicode so fused == fallback holds on
    non-Latin scripts too (both property-tested against an exhaustive
    reference incl. Cyrillic / Greek final sigma / Turkish dotted-dotless I).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "document_id": pd.Series([], dtype="object"),
                "start_index": pd.Series([], dtype="int32"),
                "end_index": pd.Series([], dtype="int32"),
                "text": pd.Series([], dtype="object"),
                "gazetteer_entity_id": pd.Series([], dtype="object"),
            }
        )

    alias_norms = aliases.index.tolist()
    alias_entities = aliases.tolist()
    alias_map = dict(zip(alias_norms, alias_entities))
    # anchor dim: first token -> bitmask of alias token-counts (width w sets
    # bit w); aliases longer than max_tokens can never match
    anchor_bits: dict = {}
    for a in alias_norms:
        parts = a.split(" ")
        if 1 <= len(parts) <= max_tokens:
            anchor_bits[parts[0]] = anchor_bits.get(parts[0], 0) | (1 << len(parts))
    anchor_firsts = list(anchor_bits)
    anchor_widths = np.asarray([anchor_bits[k] for k in anchor_firsts], dtype=np.int32)

    src = documents.select(
        F.col("document_id").cast("string").alias("document_id"), "text"
    )
    schema = (
        "document_id string, start_index int, end_index int, text string,"
        " gazetteer_entity_id string"
    )

    def _python_doc(did, t, out):
        """Non-ASCII fallback: per-doc anchored dict matching (char offsets)."""
        import re

        sp, nl = [], []
        for m in re.finditer("[ \n]", t):
            sp.append(m.start())
            nl.append(t[m.start()] == "\n")
        spv = np.asarray(sp, dtype=np.int64)
        tok_s = np.concatenate(([0], spv + 1))
        tok_e = np.concatenate((spv, [len(t)]))
        line = np.concatenate(([0], np.cumsum(np.asarray(nl, dtype=bool))))
        ntok = len(tok_s)
        for i in range(ntok):
            bits = anchor_bits.get(t[tok_s[i] : tok_e[i]].lower())
            if not bits:
                continue
            for n in range(1, max_tokens + 1):
                j = i + n - 1
                if j >= ntok or line[j] != line[i]:
                    break
                if not (bits >> n) & 1:
                    continue
                text = t[tok_s[i] : tok_e[j]]
                ent = alias_map.get(text.lower())
                if ent is not None:
                    out.append((did, int(tok_s[i]), int(tok_e[j]), text, ent))

    def _match_ascii(doc_ids: list, doc_bytes: list) -> "pd.DataFrame":
        if not anchor_firsts:  # empty gazetteer ⇒ no anchors ⇒ no matches
            return _empty()
        big = b"\n".join(doc_bytes)
        arr = np.frombuffer(big, dtype=np.uint8)
        doc_lens = np.asarray([len(b) for b in doc_bytes], dtype=np.int64)
        doc_off = np.concatenate(([0], np.cumsum(doc_lens[:-1] + 1)))
        is_sep = (arr == 32) | (arr == 10)
        sp = np.flatnonzero(is_sep)
        tok_s = np.concatenate(([0], sp + 1))
        tok_e = np.concatenate((sp, [len(arr)]))
        nl = arr[sp] == 10 if len(sp) else np.zeros(0, dtype=bool)
        line = np.concatenate(([0], np.cumsum(nl)))
        ntok = len(tok_s)

        # per-token anchor lookup, batch-global: one utf8 array over all
        # tokens (arrow offsets must be contiguous, so the separator bytes
        # are squeezed out by the same grouped per-width gathers the span
        # build uses), lowered + hash-probed in C++
        L = tok_e - tok_s
        order = np.argsort(L, kind="stable")
        s_o, L_o = tok_s[order], L[order]
        widths, starts_ix = np.unique(L_o, return_index=True)
        bounds = np.append(starts_ix, ntok)
        val_chunks = []
        for w, lo, hi in zip(widths, bounds[:-1], bounds[1:]):
            if w == 0:
                continue
            windows = np.lib.stride_tricks.sliding_window_view(arr, int(w))
            val_chunks.append(windows[s_o[lo:hi]].tobytes())
        toks_sorted = _utf8_from_lens(L_o.astype(np.int64), b"".join(val_chunks))
        aidx_sorted = (
            pc.fill_null(
                pc.index_in(
                    pc.utf8_lower(toks_sorted), value_set=pa.array(anchor_firsts)
                ),
                -1,
            )
            .to_numpy(zero_copy_only=False)
            .astype(np.int64, copy=False)
        )
        aidx = np.empty(ntok, dtype=np.int64)
        aidx[order] = aidx_sorted
        bits = np.where(aidx >= 0, anchor_widths[np.maximum(aidx, 0)], 0).astype(
            np.int32
        )

        id_chunks, s_chunks, e_chunks, len_chunks, sval_chunks = [], [], [], [], []
        for n in range(1, max_tokens + 1):
            if ntok < n:
                break
            m_ = ntok - n + 1
            ok = (line[:m_] == line[n - 1 :]) & (((bits[:m_] >> n) & 1) == 1)
            s = tok_s[:m_][ok]
            e = tok_e[n - 1 :][ok]
            if not len(s):
                continue
            di = np.searchsorted(doc_off, s, side="right") - 1
            rel_s = (s - doc_off[di]).astype(np.int32)
            rel_e = (e - doc_off[di]).astype(np.int32)
            Ls = e - s
            o2 = np.argsort(Ls, kind="stable")
            s2, L2 = s[o2], Ls[o2]
            id_chunks.append(di[o2].astype(np.int32))
            s_chunks.append(rel_s[o2])
            e_chunks.append(rel_e[o2])
            len_chunks.append(L2.astype(np.int64))
            w2, ix2 = np.unique(L2, return_index=True)
            b2 = np.append(ix2, len(L2))
            for w, lo, hi in zip(w2, b2[:-1], b2[1:]):
                if w == 0:
                    continue
                windows = np.lib.stride_tricks.sliding_window_view(arr, int(w))
                sval_chunks.append(windows[s2[lo:hi]].tobytes())

        if not id_chunks:
            return _empty()
        lens = np.concatenate(len_chunks)
        span_pa = _utf8_from_lens(lens, b"".join(sval_chunks))
        midx = pc.index_in(pc.utf8_lower(span_pa), value_set=pa.array(alias_norms))
        keep = pc.is_valid(midx)
        kn = np.flatnonzero(keep.to_numpy(zero_copy_only=False))
        if not len(kn):
            return _empty()
        kept_idx = midx.filter(keep).cast(pa.int32())
        if isinstance(kept_idx, pa.ChunkedArray):
            kept_idx = kept_idx.combine_chunks()  # matched spans: small
        ent_pa = pa.DictionaryArray.from_arrays(
            kept_idx, pa.array(alias_entities)
        ).cast(pa.string())
        ids_pa = pa.DictionaryArray.from_arrays(
            pa.array(np.concatenate(id_chunks)[kn], type=pa.int32()),
            pa.array(doc_ids, type=pa.string()),
        ).cast(pa.string())
        return pd.DataFrame(
            {
                "document_id": pd.Series(ids_pa, dtype=pd.ArrowDtype(pa.string())),
                "start_index": pd.Series(np.concatenate(s_chunks)[kn], dtype="int32"),
                "end_index": pd.Series(np.concatenate(e_chunks)[kn], dtype="int32"),
                "text": pd.Series(
                    span_pa.filter(keep), dtype=pd.ArrowDtype(pa.string())
                ),
                "gazetteer_entity_id": pd.Series(
                    ent_pa, dtype=pd.ArrowDtype(pa.string())
                ),
            }
        )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            fast_ids: list = []
            fast_bytes: list = []
            py_out: list = []
            for did, text in zip(pdf["document_id"], pdf["text"]):
                t = text or ""
                b = t.encode("utf-8")
                if len(b) == len(t):
                    fast_ids.append(did)
                    fast_bytes.append(b)
                else:
                    _python_doc(did, t, py_out)
            frames = []
            if fast_ids:
                frames.append(_match_ascii(fast_ids, fast_bytes))
            if py_out:
                frames.append(
                    pd.DataFrame(
                        py_out,
                        columns=[
                            "document_id", "start_index", "end_index", "text",
                            "gazetteer_entity_id",
                        ],
                    ).astype({"start_index": "int32", "end_index": "int32"})
                )
            if not frames:
                frames.append(_empty())
            yield from frames

    return src.mapInPandas(gen, schema)


def detect_mentions(
    documents: DataFrame, gazetteer: DataFrame, max_tokens: int = 4
) -> DataFrame:
    """Gazetteer mention detection (N1-analog + C6) — the one detector of
    ``run_pipeline`` and of every streaming micro-batch.

    gazetteer: (entity_id, alias, ...). Matching is case-insensitive exact
    surface form, longest match wins. Returns
    (mention_id, document_id, start_index, end_index, text,
     gazetteer_entity_id) — gazetteer_entity_id is a *candidate* signal, not
    the final link (scoring + clustering decide downstream).

    mention_id is a content hash (document_id#start-end) — deterministic
    across reruns and parallelism levels (SURVEY.md §7.4: never
    monotonically_increasing_id).

    Detection is the fused matcher (:func:`_match_mentions_arrow`):
    enumeration + alias matching in one zero-shuffle scan over the distinct
    aliases collected driver-side at plan construction. The collect is
    bounded by ``FUSED_MAX_ALIASES`` (read at call time); past it, a
    driver-heap bet, this logs a WARNING and falls back to the window form:
    lead()-window spans gated on the :func:`alias_anchor_dim` necessary
    conditions (first token starts some alias, span width in that alias
    set) and joined to the gazetteer, each join broadcast or shuffled by
    Spark's size rule. The two forms are output-identical (both
    property-tested against the exhaustive :func:`candidate_spans` match).
    """
    return _detect(documents, gazetteer, max_tokens, _fused_aliases(gazetteer))


def _fused_aliases(gazetteer: DataFrame):
    """The fused matcher's alias table: min entity_id per folded alias (a
    pandas Series indexed by the folded alias), collected to the driver —
    or None, with a WARNING, past ``FUSED_MAX_ALIASES`` distinct aliases.
    ``streaming.make_links_processor`` collects it once per stream."""
    import pandas as pd

    # raw-alias dedupe happens JVM-side (bounds the collect to distinct
    # aliases); folding happens driver-side so it uses the match-time
    # function. limit(n+1) bounds the transferred rows even past the
    # limit. toPandas (Arrow batches) instead of row collect: 2.0s vs
    # 12.7s at 1.2M aliases (BENCH/SCALING_EVIDENCE.md R5-h).
    limit = FUSED_MAX_ALIASES
    aliases = (
        gazetteer.groupBy(F.col("alias").alias("a"))
        .agg(F.min("entity_id").alias("e"))
        .limit(limit + 1)
        .toPandas()
    )
    if len(aliases) > limit:
        logger.warning(
            "gazetteer has more than FUSED_MAX_ALIASES=%d distinct"
            " aliases: falling back to the window detector",
            limit,
        )
        return None
    # min(entity_id) per FOLDED alias: two-level min (per raw alias on the
    # cluster, per folded key here) == global min per folded key —
    # deterministic on colliding cross-entity aliases and identical to the
    # window path's groupBy(lower(alias)).agg(min) for ASCII keys.
    # pandas str.lower IS Python str.lower per element (object dtype), so
    # the match-time folding function is unchanged. Sort + keep-first, not
    # groupby().min(): pandas reduces an object column one group at a time
    # in Python (~30 s at 10^6 aliases, against ~2 s for the sort).
    folded = pd.DataFrame({"k": aliases["a"].fillna("").str.lower(), "e": aliases["e"]})
    return folded.sort_values(["k", "e"]).drop_duplicates("k").set_index("k")["e"]


def _detect(
    documents: DataFrame, gazetteer: DataFrame, max_tokens: int, aliases
) -> DataFrame:
    """:func:`detect_mentions` with the alias table already collected by
    :func:`_fused_aliases` (None: the window fallback)."""
    if aliases is not None:
        matches = _match_mentions_arrow(documents, aliases, max_tokens)
    else:
        spans = _spans_window(
            tokenize_with_offsets(documents),
            max_tokens,
            anchors=alias_anchor_dim(gazetteer, max_tokens),
        )
        # min(entity_id) per normalized alias — deterministic on colliding
        # cross-entity aliases (dropDuplicates would pick an arbitrary row)
        # and identical to the fused matcher's driver-side dedupe
        gaz = gazetteer.groupBy(
            F.lower(F.col("alias")).alias("_alias_norm")
        ).agg(F.min("entity_id").alias("gazetteer_entity_id"))
        matches = spans.join(
            gaz, F.lower(spans["text"]) == gaz["_alias_norm"], "inner"
        ).drop("_alias_norm")

    # prune spans contained in a longer match of the same doc — a single
    # window pass, not a self-join (which would evaluate the whole
    # spans⋈gazetteer subtree twice): ordering by (start asc, end desc),
    # a span is contained iff some PRECEDING span ends at-or-after it
    # (preceding ⇒ starts at-or-before it; equal spans can't repeat
    # because the gazetteer is deduped per normalized alias).
    w = (
        Window.partitionBy("document_id")
        .orderBy(F.asc("start_index"), F.desc("end_index"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matches = (
        matches.withColumn("_max_prev_end", F.max("end_index").over(w))
        .filter(
            F.col("_max_prev_end").isNull()
            | (F.col("_max_prev_end") < F.col("end_index"))
        )
        .drop("_max_prev_end")
    )

    return matches.select(
        F.concat_ws(
            "", F.col("document_id"), F.lit("#"),
            F.col("start_index").cast("string"), F.lit("-"),
            F.col("end_index").cast("string"),
        ).alias("mention_id"),
        "document_id",
        "start_index",
        "end_index",
        "text",
        "gazetteer_entity_id",
    ).dropDuplicates(["mention_id"])
