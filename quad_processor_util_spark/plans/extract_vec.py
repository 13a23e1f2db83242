"""Vectorized (batch-at-a-time) transcript extraction.

:func:`extract_batch_arrow` is the body of the extraction ``mapInArrow``
closure (plans/pipeline.make_extract_fn, shared by batch and streaming —
the flagship hot path). It replaces a per-row Python loop with batch-level
work:

- ONE gazetteer regex scan per Arrow batch over a ``\\x00``-joined
  mega-string (the regex engine runs in C; row boundaries are ``\\x00``,
  which no gazetteer form, relation connector, or pattern can match
  across, and which satisfies the word-boundary lookarounds exactly like
  start/end-of-string does per row);
- numpy offset arithmetic maps absolute match positions back to rows;
- overlap-policy, relation, population/label and unknown-mention logic
  run on flat arrays, with per-row Python only for the rare rows whose
  mentions actually overlap.

Semantics are EXACTLY oracle.Gazetteer.find_all + apply_overlap_policy +
extract_triples_from_text + find_unknown_mentions per row, in the same
per-row quad order (relations by adjacent pair, then per mention
population/label, then unknown-mention placeholders, then the tool quad)
— verified structurally by tests/test_extract_vec.py against the per-row
oracle :func:`_extract_batch_rows`. Reference semantics:
solr/SolrHandler.java:367-512 (tagger + policies); QuadMapper.scala:104-128
(sorted-group map).

Pure pyarrow/numpy/pandas + oracle helpers — no Spark imports (runs inside
executors' mapInArrow closures and inside pytest alike).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..oracle import (
    EX,
    RDF_LANGSTRING,
    XSD_INTEGER,
    XSD_STRING,
    _CAP_RUN_RE,
    _LABEL_RE,
    _POPULATION_RE,
    Gazetteer,
    Mention,
    RELATION_CONNECTORS,
    apply_overlap_policy,
    extract_triples_from_text,
    find_unknown_mentions,
    nt_unescape,
)
from ..oracle import QUAD_FIELDS  # the one definition (Spark-free module)

_TOOL_PRED = EX + "toolUsed"
_SURF_PRED = EX + "mentionSurface"
_SEP = "\x00"


def _find_mentions_mega(gaz: Gazetteer, mega: str):
    """All (start, end, surface) matches over the mega-string with exact
    oracle.find_all semantics: longest match at every matching start plus
    boundary-clean prefix recoveries, span-deduped, sorted by (start, -end).

    Fast path (overlap-free gazetteer): one C-speed finditer pass.
    Overlapping gazetteers: finditer gives the non-overlapping spine (every
    missed match must START strictly inside a spine span — anything starting
    outside would itself be the leftmost match from the previous spine end);
    overlapped matches are recovered by ANCHORED rx.match probes at the
    boundary positions inside each (cover-extended) spine span. The
    alternation is longest-first, so an anchored match returns exactly the
    longest form at that start — the same thing the oracle's rescan loop
    finds. Probes ≈ interior word starts per mention (1-2), each failing
    fast, instead of one full rx.search per match.
    """
    rx = gaz.rx
    if rx is None:
        return []
    if not gaz.has_overlaps:
        return [(m.start(), m.end(), m.group(0)) for m in rx.finditer(mega)]
    static_emits = gaz._static_emits
    probe_offsets = gaz._probe_offsets
    # negated end stored so a PLAIN tuple sort gives the oracle's
    # (start, -end) order — no per-element key lambda
    out = []
    append = out.append
    amatch = rx.match
    sget = static_emits.get
    pget = probe_offsets.get
    probed: set[int] = set()
    stack: list[tuple[int, str]] = []
    for m in rx.finditer(mega):
        s = m.start()
        g = m.group(0)
        append((s, -(s + len(g)), g))
        se = sget(g)
        if se is not None:
            for k, e_off, sub in se:
                append((s + k, -(s + e_off), sub))
        if pget(g) is None:
            continue
        stack.append((s, g))
        while stack:
            s, g = stack.pop()
            for k in pget(g, ()):
                q = s + k
                if q in probed:
                    continue
                probed.add(q)
                m2 = amatch(mega, q)
                if m2 is not None:
                    g2 = m2.group(0)
                    append((q, -(q + len(g2)), g2))
                    se = sget(g2)
                    if se is not None:
                        for k2, e_off, sub in se:
                            append((q + k2, -(q + e_off), sub))
                    if pget(g2) is not None:
                        stack.append((q, g2))
    return [(s, -ne, g) for s, ne, g in sorted(set(out))]


def _text_templates(
    gaz: Gazetteer,
    texts: list[str],
    policy: str,
    emit_unknown: bool,
):
    """Per-text quad templates over a list of (distinct) texts.

    Returns (t_tid, S, P, O, D, L, is_turn): parallel arrays of template
    quads sorted by (tid, stage, seq) — i.e. each text's quads in the exact
    per-row oracle emission order. `is_turn` marks unknown-mention
    placeholder quads whose subject is the row's turn IRI (filled in per
    row by extract_batch_arrow); their S slot holds None."""
    n = len(texts)

    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    row_start = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=row_start[1:])
    row_text_end = row_start + lens
    mega = _SEP.join(texts)

    s2i = gaz.surface_to_iri

    # ---- mention detection (batched) ------------------------------------
    raw = _find_mentions_mega(gaz, mega)
    if raw:
        m_start = np.fromiter((t[0] for t in raw), dtype=np.int64, count=len(raw))
        m_end = np.fromiter((t[1] for t in raw), dtype=np.int64, count=len(raw))
        m_row = np.searchsorted(row_start, m_start, side="right") - 1
        m_surf = [t[2] for t in raw]
    else:
        m_start = m_end = m_row = np.empty(0, dtype=np.int64)
        m_surf = []

    # ---- overlap policy (vectorized) --------------------------------------
    # Sorted by (start, -end), with per-row mega positions strictly
    # increasing across rows, a global running max of `end` never leaks
    # across row boundaries:
    #   contained(i)    = cummax(end[:i]) >= end[i]     (strict containment)
    #   overlaps(i,i+1) = same row and start[i+1] < end[i]
    # ALL keeps everything; NO_SUB drops contained; LDR drops contained and,
    # when the row's remaining maximal mentions are pairwise disjoint (the
    # overwhelmingly common case), that IS the greedy LDR result: every
    # container is processed before (longer than) anything it contains, and
    # disjoint maximals never reject each other. Only rows whose MAXIMAL
    # mentions overlap (genuinely staggered) take the per-row oracle policy.
    if len(m_start):
        if policy not in ("ALL", "NO_SUB", "LONGEST_DOMINANT_RIGHT"):
            raise ValueError(f"unknown overlap policy: {policy}")
        if policy in ("NO_SUB", "LONGEST_DOMINANT_RIGHT"):
            keep = np.ones(len(m_start), dtype=bool)
            if len(m_start) > 1:
                keep[1:] = np.maximum.accumulate(m_end)[:-1] < m_end[1:]
            if policy == "LONGEST_DOMINANT_RIGHT":
                ks, ke, kr = m_start[keep], m_end[keep], m_row[keep]
                still = (kr[1:] == kr[:-1]) & (ks[1:] < ke[:-1])
                if still.any():
                    bad_rows = np.unique(kr[:-1][still])
                    lo = np.searchsorted(m_row, bad_rows, side="left")
                    hi = np.searchsorted(m_row, bad_rows, side="right")
                    for a, b in zip(lo, hi):
                        ms = [
                            Mention(int(m_start[i]), int(m_end[i]),
                                    m_surf[i], s2i[m_surf[i]])
                            for i in range(a, b)
                        ]
                        kept = {
                            (k.start, k.end)
                            for k in apply_overlap_policy(ms, policy)
                        }
                        for i in range(a, b):
                            keep[i] = (int(m_start[i]), int(m_end[i])) in kept
            if not keep.all():
                m_start, m_end, m_row = m_start[keep], m_end[keep], m_row[keep]
                m_surf = [s for s, k in zip(m_surf, keep) if k]
        # final per-row order: (row, start, end) — the policy output order
        order = np.lexsort((m_end, m_start, m_row))
        if not np.array_equal(order, np.arange(len(order))):
            m_start, m_end, m_row = m_start[order], m_end[order], m_row[order]
            m_surf = [m_surf[i] for i in order]
    m_iri = [s2i[s] for s in m_surf]
    nm = len(m_surf)

    # template accumulator: (tid, stage, seq, subject, predicate, obj,
    #                        datatype, language, is_turn)
    q_row: list[int] = []
    q_stage: list[int] = []
    q_seq: list[int] = []
    q_s: list = []
    q_p: list = []
    q_o: list = []
    q_d: list = []
    q_l: list = []
    q_turn: list[bool] = []

    def emit(row, stage, seq, s, p, o, d, lang, is_turn=False):
        q_row.append(row); q_stage.append(stage); q_seq.append(seq)
        q_s.append(s); q_p.append(p); q_o.append(o); q_d.append(d)
        q_l.append(lang); q_turn.append(is_turn)

    # ---- relations: adjacent mention pairs within a row -------------------
    if nm > 1:
        pair = np.nonzero(m_row[1:] == m_row[:-1])[0]
        getp = RELATION_CONNECTORS.get
        for i in pair:
            p = getp(mega[m_end[i]:m_start[i + 1]].strip().strip(",;").strip())
            if p is not None:
                emit(int(m_row[i]), 1, int(i), m_iri[i], p, m_iri[i + 1],
                     None, None)

    # ---- population / label: anchored at mention end ----------------------
    # candidate anchor positions located with C-speed str.find sweeps; the
    # anchored regex then confirms with exact oracle semantics (bounded by
    # the row's text end so no pattern crosses a row boundary)
    def _find_positions(needle: str) -> set[int]:
        pos = set()
        i = mega.find(needle)
        while i != -1:
            pos.add(i)
            i = mega.find(needle, i + 1)
        return pos

    # anchors are only consulted per MENTION — a mention-free batch must
    # not pay two O(len(mega)) sweeps on the flagship hot path (round-5
    # review finding)
    pop_pos = _find_positions(" has population ") if nm else set()
    lab_pos = _find_positions(' is known as "') if nm else set()
    for mi in range(nm):
        e = int(m_end[mi])
        if e in pop_pos:
            r = int(m_row[mi])
            pm = _POPULATION_RE.match(mega, e, int(row_text_end[r]))
            if pm:
                emit(r, 2, 2 * mi, m_iri[mi], EX + "population", pm.group(1),
                     XSD_INTEGER, None)
        elif e in lab_pos:
            r = int(m_row[mi])
            lm = _LABEL_RE.match(mega, e, int(row_text_end[r]))
            if lm:
                emit(r, 2, 2 * mi + 1, m_iri[mi], EX + "label",
                     nt_unescape(lm.group(1)), RDF_LANGSTRING, lm.group(2))

    # ---- unknown-mention placeholders --------------------------------------
    if emit_unknown:
        # per-row running max of mention ends (O(1) interval-overlap tests)
        if nm:
            row_first = np.searchsorted(m_row, np.arange(n), side="left")
            row_last = np.searchsorted(m_row, np.arange(n), side="right")
            cummax_end = np.empty(nm, dtype=np.int64)
            for r0 in np.unique(m_row):
                lo, hi = row_first[r0], row_last[r0]
                cummax_end[lo:hi] = np.maximum.accumulate(m_end[lo:hi])
        seen: set[tuple[int, str]] = set()
        seq = 0
        for um in _CAP_RUN_RE.finditer(mega):
            s, e = um.start(), um.end()
            r = int(np.searchsorted(row_start, s, side="right") - 1)
            # skip runs crossing into the separator pad (cannot happen: the
            # pattern admits no \x00) — runs overlapping a kept mention skip
            if nm:
                lo, hi = row_first[r], row_last[r]
                if lo < hi:
                    # mentions with start < e, within row r
                    j = int(np.searchsorted(m_start[lo:hi], e, side="left"))
                    if j > 0 and cummax_end[lo + j - 1] > s:
                        continue
            surface = um.group(0)
            if (r, surface) in seen:
                continue
            seen.add((r, surface))
            # subject = the row's turn IRI — row-dependent, filled per row
            # by extract_batch_arrow (is_turn marks the slot)
            emit(r, 3, seq, None, _SURF_PRED, surface, XSD_STRING, None,
                 is_turn=True)
            seq += 1

    # ---- flatten in per-text oracle order -----------------------------------
    if not q_row:
        empty = np.empty(0, dtype=object)
        return (np.empty(0, dtype=np.int64), empty, empty, empty, empty,
                empty, np.empty(0, dtype=bool))
    order = np.lexsort(
        (np.asarray(q_seq), np.asarray(q_stage), np.asarray(q_row)))
    t_tid = np.asarray(q_row, dtype=np.int64)[order]

    def _gather(lst: list) -> np.ndarray:
        a = np.empty(len(lst), dtype=object)
        a[:] = lst
        return a[order]

    return (t_tid, _gather(q_s), _gather(q_p), _gather(q_o), _gather(q_d),
            _gather(q_l), np.asarray(q_turn, dtype=bool)[order])


def extract_batch_arrow(rb, gaz: Gazetteer, policy: str = "LONGEST_DOMINANT_RIGHT",
                        emit_unknown: bool = False):
    """One Arrow RecordBatch of transcripts -> Arrow RecordBatch of quads.

    The one vectorized extraction path. Extraction runs once per DISTINCT
    text (``pc.dictionary_encode``, C-speed — only distinct texts ever
    become Python objects; see _text_templates); the per-row expansion is
    pa.Array.take gathers over small per-template arrays, and the graph /
    turn-IRI columns are built with ``pc.binary_join_element_wise`` — no
    per-row Python anywhere. Output values and order are bit-identical to
    the per-row oracle :func:`_extract_batch_rows`
    (tests/test_extract_vec.py parity suite).

    String contract: ``role``, ``text`` and ``tool`` arrive string-typed —
    plans/pipeline.extract_quads casts them at the Spark boundary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = rb.num_rows
    if n == 0:
        return None
    # spark.sql.execution.arrow.useLargeVarTypes ships large_string; every
    # array built below is string, so normalize the input once here
    if any(pa.types.is_large_string(f.type) for f in rb.schema):
        rb = rb.cast(pa.schema([
            f.with_type(pa.string()) if pa.types.is_large_string(f.type)
            else f for f in rb.schema]))
    enc = pc.dictionary_encode(rb.column("text"))
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    utexts = enc.dictionary.to_pylist()
    if any(t is not None and _SEP in t for t in utexts):
        # exact fallback through the per-row oracle path
        # integer_object_nulls: a NULL turn_idx must not turn the column
        # into floats ('3.0' instead of the vectorized path's '3')
        out = _extract_batch_rows(rb.to_pandas(integer_object_nulls=True),
                                  gaz, policy, emit_unknown)
        if not len(out):
            return None
        return pa.RecordBatch.from_pandas(
            out, schema=pa.schema([(f, pa.string()) for f in QUAD_FIELDS]),
            preserve_index=False)
    # NULL text rows -> the "" template (the per-row oracle's `text or ""`)
    null_tid = None
    if enc.indices.null_count:
        try:
            null_tid = utexts.index("")
        except ValueError:
            null_tid = len(utexts)
            utexts.append("")
        tids = enc.indices.fill_null(null_tid).to_numpy(
            zero_copy_only=False).astype(np.int64)
    else:
        tids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    t_tid, S, P, O, D, L, is_turn = _text_templates(
        gaz, [t if t is not None else "" for t in utexts], policy,
        emit_unknown)
    m = len(utexts)

    # fill_null("None") = str() parity with the per-row oracle
    conv = pc.cast(rb.column("conv_id"), pa.string()).fill_null("None")
    graphs = pc.binary_join_element_wise(
        pa.scalar("http://example.org/conv/"), conv, pa.scalar(""))

    role = rb.column("role")
    tool = rb.column("tool")
    tool_mask = pc.fill_null(
        pc.and_(pc.equal(role, pa.scalar("tool")),
                pc.not_equal(tool, pa.scalar(""))),
        False)
    tool_rows = np.nonzero(tool_mask.to_numpy(zero_copy_only=False))[0]

    need_turn = bool(is_turn.any()) or len(tool_rows) > 0
    if need_turn:
        # fill_null("None") = str(None) parity with the per-row oracle
        # path (a NULL turn_idx must not null the whole IRI — round-6
        # review finding)
        turn_iris = pc.binary_join_element_wise(
            graphs, pa.scalar("/turn/"),
            pc.cast(rb.column("turn_idx"), pa.string()).fill_null("None"),
            pa.scalar(""))

    # per-template Arrow columns (small: one row per template quad)
    tS = pa.array(S.tolist(), pa.string())
    tP = pa.array(P.tolist(), pa.string())
    tO = pa.array(O.tolist(), pa.string())
    tD = pa.array(D.tolist(), pa.string())
    tL = pa.array(L.tolist(), pa.string())

    tcounts = np.bincount(t_tid, minlength=m) if m else np.empty(0, np.int64)
    toff = np.zeros(m, dtype=np.int64)
    if m > 1:
        np.cumsum(tcounts[:-1], out=toff[1:])
    counts = tcounts[tids]
    total = int(counts.sum())
    if total:
        row_of_quad = np.repeat(np.arange(n), counts)
        csum = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=csum[1:])
        idx = toff[tids].repeat(counts) + np.arange(total) - csum.repeat(counts)
        pidx = pa.array(idx)
        prow = pa.array(row_of_quad)
        subj = tS.take(pidx)
        turn_mask = is_turn[idx]
        if turn_mask.any():
            subj = pc.if_else(pa.array(turn_mask), turn_iris.take(prow), subj)
        cols = [subj, tP.take(pidx), tO.take(pidx), tD.take(pidx),
                tL.take(pidx), graphs.take(prow)]
    else:
        row_of_quad = np.empty(0, dtype=np.int64)
        e = pa.array([], pa.string())
        cols = [e, e, e, e, e, e]

    if len(tool_rows):
        tr = pa.array(tool_rows)
        t_cols = [turn_iris.take(tr),
                  pa.array([_TOOL_PRED] * len(tool_rows), pa.string()),
                  tool.take(tr),
                  pa.array([XSD_STRING] * len(tool_rows), pa.string()),
                  pa.nulls(len(tool_rows), pa.string()),
                  graphs.take(tr)]
        rows_all = np.concatenate([row_of_quad, tool_rows])
        flag = np.concatenate([
            np.zeros(total, dtype=np.int8),
            np.ones(len(tool_rows), dtype=np.int8)])
        order = pa.array(np.lexsort((flag, rows_all)))
        cols = [pa.concat_arrays([a.combine_chunks() if hasattr(a, "combine_chunks") else a, b])
                .take(order) for a, b in zip(cols, t_cols)]
        total += len(tool_rows)

    if not total:
        return None
    cols.append(pa.nulls(total, pa.string()))
    return pa.RecordBatch.from_arrays(
        [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
         for c in cols], QUAD_FIELDS)


def _extract_batch_rows(
    pdf: pd.DataFrame,
    gaz: Gazetteer,
    policy: str,
    emit_unknown: bool,
) -> pd.DataFrame:
    """The per-row oracle: exact reference semantics, one row at a time.
    Also extract_batch_arrow's fallback for batches whose texts contain the
    \\x00 separator."""
    cols: dict[str, list] = {f: [] for f in QUAD_FIELDS}
    app = [cols[f].append for f in QUAD_FIELDS]
    for conv_id, turn_idx, role, text, tool in zip(
        pdf["conv_id"].to_numpy(), pdf["turn_idx"].to_numpy(),
        pdf["role"].to_numpy(), pdf["text"].to_numpy(), pdf["tool"].to_numpy(),
    ):
        # str() matches extract_batch_arrow's string cast: a non-string
        # conv_id (int64 convs) must not crash only on the \x00-fallback
        # route (round-4 review finding). NULL turn_idx renders 'None' on
        # every path (NaN floats would otherwise print 'nan' here but
        # 'None' on the arrow path — round-6 review finding)
        graph = "http://example.org/conv/" + str(conv_id)
        if turn_idx is None or (isinstance(turn_idx, float)
                                and turn_idx != turn_idx):
            turn_idx = "None"
        ms = apply_overlap_policy(gaz.find_all(text or ""), policy)
        for q in extract_triples_from_text(text or "", gaz, graph, policy,
                                           mentions=ms):
            app[0](q.subject); app[1](q.predicate); app[2](q.obj)
            app[3](q.datatype); app[4](q.language); app[5](q.graph)
            app[6](None)
        if emit_unknown:
            turn_iri = f"{graph}/turn/{turn_idx}"
            for surface in find_unknown_mentions(text or "", ms):
                app[0](turn_iri); app[1](_SURF_PRED); app[2](surface)
                app[3](XSD_STRING); app[4](None); app[5](graph); app[6](None)
        if role == "tool" and isinstance(tool, str) and tool:
            app[0](f"{graph}/turn/{turn_idx}"); app[1](_TOOL_PRED)
            app[2](tool); app[3](XSD_STRING); app[4](None); app[5](graph)
            app[6](None)
    return pd.DataFrame(cols, columns=QUAD_FIELDS)
