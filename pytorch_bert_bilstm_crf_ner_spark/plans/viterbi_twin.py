"""DuckDB twin of the CRF tagging query ``kg_mentions``: the Python
tag UDF re-expressed in SQL, so its output is hash-checked like every
other registered query.

The registered Spark query runs `operators/tagging.py::extract_mentions`
(one Arrow-batched pandas UDF: emissions -> Viterbi -> BIOES FSM).  This
module generates an ANSI-ish SQL program that recomputes the SAME decode
in DuckDB, bit-for-bit:

- **emissions**: the default tagger's per-char emission vectors come from
  a whole-vocab table computed ONCE at tagger construction
  (`core/model.py::DeterministicTagger._char_table`, fixed-shape GEMM so the
  values are batch-independent); this generator inlines the rows for
  printable ASCII as double literals (float32 values are exact doubles).
  Gazetteer boosts replay `re.finditer` semantics: per-position
  candidates with the alternation's lookaround boundary checks, then a
  greedy left-to-right non-overlap scan (chained SELECT stages — one per
  possible match, with an overflow guard), each selected match boosting
  B/I/E (or S) tags; the float32 `base + boost` add is reproduced as
  ``CAST(base + boost AS REAL)`` (one binary add, one REAL cast — the
  innocuous-double-rounding construction below).
- **Viterbi**: `core/viterbi.py` runs its DP in float32 (the UDF hot
  loop; float64 cost ~50% more wall).  The recursion here — generated
  per-position stages carrying the 33-wide score list plus per-step
  backpointers — SIMULATES each float32 add exactly with one
  ``CAST(... AS REAL)`` per addition: double rounding is innocuous for a
  single binary float32 op when the intermediate precision is >= 2p+2
  bits (Figueroa 1995; 53 >= 2*24+2 = 50), so the REAL cast of the
  double sum IS the IEEE single addition, bit-for-bit.  The theorem
  covers ONE binary op per cast — never fuse two adds into a
  three-operand double sum before casting.  Argmax ties resolve to
  the FIRST index on both engines (np.argmax / list_position).
- **BIOES FSM** (`core/decode.py::bioes_decode_flat`, with the id-0 ->
  id2ent[1] quirk): the scan-order FSM reduces to a closed form — every
  S position emits, and every B emits iff the first following position
  that is not I-of-the-same-type is E-of-the-same-type (a B can never
  start inside an emitted span, so pointer jumps don't change the set).

Scope guards (loud `error()` instead of silent drift): turn text over
``MAX_SEQ_LEN - 2`` chars (the two-tier cutter provably returns a single
piece at or under it — `cut_sent_for_bert` greedily re-merges, so any
text <= the bound IS one piece), chars outside printable ASCII, and
gazetteer-scan stage overflow.

Reference parity chain: reference `predict_gdcq.py:12-57` (FSM),
`layers/CRF.py:243-308` (Viterbi) -> `core/` ports (pytest-pinned) ->
this SQL (pinned by `tests/test_viterbi_twin.py` at two scale factors).
"""

from __future__ import annotations

from ..core.model import BOOST, GAZETTEER, DeterministicTagger
from ..core.pairing import (
    ADJACENT_OBJECT_TYPES,
    ADJACENT_PRED,
    COOCCUR_PRED,
    COOCCUR_WINDOW,
)
from ..core.tags import CHAR_VOCAB_SIZE, ENT2ID, ID2ENT, MAX_SEQ_LEN

# chained gazetteer-scan depth: shortest alias is 3 chars and every match
# needs a non-alnum follower, so <= ceil(126 / 4) + slack matches/turn
_GAZ_STAGES = 42


def _lit(x) -> str:
    """Exact double literal for a float32 value (repr is shortest
    round-trip, and every float32 is exactly representable)."""
    return repr(float(x))


def _list_lit(vals) -> str:
    return "[" + ", ".join(_lit(v) for v in vals) + "]"


def _kg_mentions_parts(transcripts_sql: str) -> tuple[str, str]:
    """(cte definitions, final SELECT) of the default tagger's decode
    (feature none / BIOES / CRF, the registered ``kg_mentions``) — split
    so `kg_triples_sql` can flatten the mention program into its own
    top-level WITH: nesting the whole program as one CTE body sends the
    DuckDB optimizer quadratic (plan-only EXPLAIN: 8.6s flat vs 402s
    nested at the same CTE count)."""
    t = DeterministicTagger()
    T = t.num_tags
    limit = MAX_SEQ_LEN - 2

    # --- charset: printable ASCII, emission vectors from the tagger's
    # whole-vocab table (codepoint < CHAR_VOCAB_SIZE => id == codepoint)
    char_rows = []
    for cp in range(32, 127):
        ch = chr(cp)
        sql_ch = ch.replace("'", "''")
        vec = t._char_table()[cp % CHAR_VOCAB_SIZE]
        char_rows.append(f"('{sql_ch}', {_list_lit(vec)})")
    charvec = ",\n    ".join(char_rows)

    # --- gazetteer alternation, longest-first (regex alternative order)
    alts = sorted((a for a, _ in GAZETTEER), key=len, reverse=True)
    gaz_type = dict(GAZETTEER)
    al_rows = []
    for idx, alias in enumerate(alts):
        ty = gaz_type[alias]
        al_rows.append(
            f"({idx}, '{alias}', {len(alias)}, {ENT2ID[f'B-{ty}']}, "
            f"{ENT2ID[f'I-{ty}']}, {ENT2ID[f'E-{ty}']}, {ENT2ID[f'S-{ty}']})"
        )
    al = ",\n    ".join(al_rows)

    # --- CRF parameters (float32 -> exact double literals)
    start_lit = _list_lit(t.start_transitions)
    end_lit = _list_lit(t.end_transitions)
    # transposed: tt[j][i] = transitions[i -> j], so the inner lambda
    # walks a contiguous sublist per target tag
    tt_lit = "[" + ", ".join(
        _list_lit(t.transitions[:, j]) for j in range(T)
    ) + "]"

    # --- tag id -> (prefix, type) with the id-0 -> id2ent[1] quirk
    tag_rows = []
    for tid in range(T):
        label = ID2ENT[1] if tid == 0 else ID2ENT[tid]
        prefix, _, ty = label.partition("-")
        tag_rows.append(f"({tid}, '{prefix}', '{ty}')")
    tagmap = ",\n    ".join(tag_rows)

    # --- greedy finditer: chained next-match stages
    stages = ["""
sel1 AS MATERIALIZED (
  SELECT conv_id, turn_idx, p, alt_idx, alen, btag, itag, etag, stag
  FROM (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY p, alt_idx) AS rn
        FROM cands c) WHERE rn = 1
)"""]
    for k in range(2, _GAZ_STAGES + 2):  # last stage is the overflow probe
        stages.append(f"""
sel{k} AS MATERIALIZED (
  SELECT conv_id, turn_idx, p, alt_idx, alen, btag, itag, etag, stag
  FROM (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c.conv_id, c.turn_idx
                                       ORDER BY c.p, c.alt_idx) AS rn
        FROM sel{k - 1} s
        JOIN cands c ON c.conv_id = s.conv_id AND c.turn_idx = s.turn_idx
                    AND c.p >= s.p + s.alen) WHERE rn = 1
)""")
    sel_union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM sel{k}" for k in range(1, _GAZ_STAGES + 1)
    )
    stages_sql = ",".join(stages)

    # --- Viterbi DP + backtrace as GENERATED chained stages, one per
    # char position (bounded by the single-piece limit).  A recursive CTE
    # would be the natural shape, but DuckDB re-evaluates referenced CTE
    # pipelines inside the recursive term per iteration (observed ~20x
    # slower); per-stage MATERIALIZED CTEs compute each step exactly once.
    dp_stages, fin_parts, bt_stages, bt_parts = [], [], [], []
    for k in range(2, limit + 1):
        dp_stages.append(f"""
dp{k} AS MATERIALIZED (
  SELECT conv_id, turn_idx,
         list_transform(cands, c -> list_max(c)) AS score,
         list_transform(cands, c -> list_position(c, list_max(c)) - 1) AS bp
  FROM (
    SELECT p.conv_id, p.turn_idx,
           list_transform(range(0, {T}), j ->
             list_transform(list_zip(p.score, l.tt[j + 1]), x ->
               CAST(CAST(x[1] + x[2] AS REAL) + e.vec[j + 1] AS REAL))) AS cands
    FROM dp{k - 1} p
    JOIN em e ON e.conv_id = p.conv_id AND e.turn_idx = p.turn_idx
             AND e.k = {k}, lits l)
)""")
    for k in range(1, limit + 1):
        fin_parts.append(
            f"SELECT d.conv_id, d.turn_idx, {k} AS L, d.score FROM dp{k} d"
            f" JOIN lens ln ON ln.conv_id = d.conv_id"
            f" AND ln.turn_idx = d.turn_idx AND ln.L = {k}"
        )
    for k in range(limit, 0, -1):
        step = (
            f"""SELECT b.conv_id, b.turn_idx, d.bp[b.tag + 1] AS tag
  FROM bt{k + 1} b JOIN dp{k + 1} d ON d.conv_id = b.conv_id
                                   AND d.turn_idx = b.turn_idx
  UNION ALL
  """
            if k < limit
            else ""
        )
        bt_stages.append(f"""
bt{k} AS MATERIALIZED (
  {step}SELECT conv_id, turn_idx, last_tag AS tag FROM fin WHERE L = {k}
)""")
        bt_parts.append(f"SELECT conv_id, turn_idx, {k} AS k, tag FROM bt{k}")
    dp_stages_sql = ",".join(dp_stages)
    fin_union = "\n  UNION ALL\n  ".join(fin_parts)
    bt_stages_sql = ",".join(bt_stages)
    bt_union = "\n  UNION ALL\n  ".join(bt_parts)

    boost = _lit(BOOST)
    ctes = f"""
tr AS MATERIALIZED ({transcripts_sql}),
turns AS MATERIALIZED (
  SELECT conv_id, turn_idx,
         CASE WHEN length(text) > {limit}
              THEN error('kg_mentions twin: text over the single-piece '
                         'bound ({limit}): ' || conv_id)
              ELSE text END AS text
  FROM tr WHERE length(text) > 0
),
chars AS MATERIALIZED (
  SELECT conv_id, turn_idx, text, k, substr(text, k, 1) AS ch
  FROM (SELECT conv_id, turn_idx, text,
               CAST(unnest(range(1, length(text) + 1)) AS INT) AS k
        FROM turns)
),
charvec(ch, vec) AS MATERIALIZED (VALUES
    {charvec}
),
al(alt_idx, alias, alen, btag, itag, etag, stag) AS MATERIALIZED (VALUES
    {al}
),
cands AS MATERIALIZED (
  SELECT c.conv_id, c.turn_idx, c.k AS p,
         a.alt_idx, a.alen, a.btag, a.itag, a.etag, a.stag
  FROM chars c JOIN al a ON substr(c.text, c.k, a.alen) = a.alias
  WHERE (c.k = 1
         OR NOT regexp_matches(substr(c.text, c.k - 1, 1), '[a-z0-9]'))
    AND (c.k + a.alen > length(c.text)
         OR NOT regexp_matches(substr(c.text, c.k + a.alen, 1), '[a-z0-9]'))
),{stages_sql},
sel AS MATERIALIZED (
  {sel_union}
),
guard AS MATERIALIZED (
  SELECT CASE WHEN EXISTS (SELECT 1 FROM sel{_GAZ_STAGES + 1})
              THEN error('kg_mentions twin: gazetteer stage overflow')
              ELSE 1 END AS g
),
boosts AS MATERIALIZED (
  SELECT conv_id, turn_idx, p AS k, stag AS tag FROM sel WHERE alen = 1
  UNION ALL
  SELECT conv_id, turn_idx, p, btag FROM sel WHERE alen >= 2
  UNION ALL
  SELECT conv_id, turn_idx, p + i, itag
  FROM (SELECT conv_id, turn_idx, p, itag,
               CAST(unnest(range(1, alen - 1)) AS INT) AS i
        FROM sel WHERE alen >= 3)
  UNION ALL
  SELECT conv_id, turn_idx, p + alen - 1, etag FROM sel WHERE alen >= 2
),
em AS MATERIALIZED (
  SELECT c.conv_id, c.turn_idx, c.k,
         CASE WHEN v.ch IS NULL
              THEN [error('kg_mentions twin: char outside printable '
                          'ASCII in ' || c.conv_id)]
              WHEN b.tag IS NULL THEN v.vec
              ELSE list_transform(range(0, {T}), j ->
                     CASE WHEN j = b.tag
                          THEN CAST(CAST(v.vec[j + 1] + {boost} AS REAL)
                                    AS DOUBLE)
                          ELSE v.vec[j + 1] END)
         END AS vec
  FROM chars c
  LEFT JOIN charvec v ON v.ch = c.ch
  LEFT JOIN boosts b ON b.conv_id = c.conv_id AND b.turn_idx = c.turn_idx
                    AND b.k = c.k
),
lens AS MATERIALIZED (SELECT conv_id, turn_idx, length(text) AS L FROM turns),
lits AS MATERIALIZED (SELECT {start_lit} AS st, {end_lit} AS en, {tt_lit} AS tt),
dp1 AS MATERIALIZED (
  SELECT em.conv_id, em.turn_idx,
         list_transform(range(0, {T}), j ->
           CAST(l.st[j + 1] + em.vec[j + 1] AS REAL)) AS score
  FROM em, lits l WHERE em.k = 1
),{dp_stages_sql},
fin AS MATERIALIZED (
  SELECT conv_id, turn_idx, L,
         list_position(fs, list_max(fs)) - 1 AS last_tag
  FROM (
    SELECT d.conv_id, d.turn_idx, d.L,
           list_transform(list_zip(d.score, l.en), x -> CAST(x[1] + x[2] AS REAL)) AS fs
    FROM ({fin_union}) d, lits l)
),{bt_stages_sql},
bt AS MATERIALIZED (
  {bt_union}
),
tagmap(tag, prefix, typ) AS MATERIALIZED (VALUES
    {tagmap}
),
pos AS MATERIALIZED (
  SELECT bt.conv_id, bt.turn_idx, bt.k, tm.prefix, tm.typ
  FROM bt JOIN tagmap tm ON tm.tag = bt.tag
),
s_spans AS MATERIALIZED (
  SELECT p.conv_id, p.turn_idx, substr(t.text, p.k, 1) AS mention,
         p.k - 1 AS start, p.typ
  FROM pos p JOIN turns t ON t.conv_id = p.conv_id
                         AND t.turn_idx = p.turn_idx
  WHERE p.prefix = 'S'
),
b_first_stop AS MATERIALIZED (
  SELECT b.conv_id, b.turn_idx, b.k AS s, b.typ, MIN(q.k) AS e
  FROM pos b
  JOIN pos q ON q.conv_id = b.conv_id AND q.turn_idx = b.turn_idx
            AND q.k > b.k AND NOT (q.prefix = 'I' AND q.typ = b.typ)
  WHERE b.prefix = 'B'
  GROUP BY b.conv_id, b.turn_idx, b.k, b.typ
),
be_spans AS MATERIALIZED (
  SELECT f.conv_id, f.turn_idx,
         substr(t.text, f.s, f.e - f.s + 1) AS mention, f.s - 1 AS start,
         f.typ
  FROM b_first_stop f
  JOIN pos q ON q.conv_id = f.conv_id AND q.turn_idx = f.turn_idx
            AND q.k = f.e
  JOIN turns t ON t.conv_id = f.conv_id AND t.turn_idx = f.turn_idx
  WHERE q.prefix = 'E' AND q.typ = f.typ
)"""
    final = """
SELECT sp.conv_id, sp.turn_idx, sp.mention,
       CAST(sp.start AS INT) AS start, sp.typ AS type
FROM (SELECT * FROM s_spans UNION ALL SELECT * FROM be_spans) sp
CROSS JOIN guard
"""
    return ctes, final


def kg_mentions_sql(transcripts_sql: str) -> str:
    ctes, final = _kg_mentions_parts(transcripts_sql)
    return f"WITH\n{ctes}\n{final}"


def kg_triples_sql(transcripts_sql: str, canonical_entities_sql: str,
                   entity_dict_rel: str) -> str:
    """DuckDB twin of the full pipeline's ``kg_triples``
    (`plans/pipeline.py::run_pipeline` ->
    `operators/relations.py::relation_triples`): the CRF mentions come
    from :func:`kg_mentions_sql` embedded as a CTE, then linking
    (alias+type equi-join), canonicalization (the recursive-CTE
    connected-components twin + DISTINCT — duplicate-key rows are fully
    identical, see `operators/canonicalize.py::canonicalize_mentions`;
    the pipeline does both in one join,
    `operators/linking.py::canonical_mentions`, and this twin keeps the
    two steps as an independent check).  The relation instances of
    `relations.py::relation_evidence` are spelled as joins: adjacency
    (LEAD window + between-text separator filter), pre-aggregated
    cross-turn plus instance-level same-turn co-occurrence, then the
    evidence aggregation of `relation_triples` with post-agg name
    resolution."""
    m_ctes, m_final = _kg_mentions_parts(transcripts_sql)
    obj_types = ", ".join(f"'{t}'" for t in ADJACENT_OBJECT_TYPES)
    W = COOCCUR_WINDOW
    return f"""
WITH
{m_ctes},
mentions AS MATERIALIZED ({m_final}),
trx AS MATERIALIZED ({transcripts_sql}),
dict AS MATERIALIZED (SELECT * FROM {entity_dict_rel}),
linked AS MATERIALIZED (
  SELECT m.conv_id, m.turn_idx, m.mention, m.start, m.type, d.entity_id
  FROM mentions m JOIN dict d
    ON lower(m.mention) = d.alias AND m.type = d.type
),
canon AS MATERIALIZED ({canonical_entities_sql}),
canonical AS MATERIALIZED (
  SELECT DISTINCT l.conv_id, l.turn_idx, l.mention, l.start, l.type,
         c.canonical_id, c.canonical_name
  FROM linked l JOIN canon c ON c.entity_id = l.entity_id
),
adj_base AS MATERIALIZED (
  SELECT conv_id, turn_idx, mention, start, type,
         LEAD(mention) OVER w AS nxt_mention,
         LEAD(start) OVER w AS nxt_start,
         LEAD(type) OVER w AS nxt_type
  FROM mentions
  WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY start)
),
adj_ev AS MATERIALIZED (
  SELECT a.conv_id, lc.canonical_id AS subj_cid,
         '{ADJACENT_PRED}' AS pred, rc.canonical_id AS obj_cid,
         a.turn_idx, CAST(1 AS BIGINT) AS n_evidence
  FROM adj_base a
  JOIN trx t ON t.conv_id = a.conv_id AND t.turn_idx = a.turn_idx
  JOIN canonical lc ON lc.conv_id = a.conv_id AND lc.turn_idx = a.turn_idx
                   AND lc.start = a.start AND lc.mention = a.mention
  JOIN canonical rc ON rc.conv_id = a.conv_id AND rc.turn_idx = a.turn_idx
                   AND rc.start = a.nxt_start AND rc.mention = a.nxt_mention
  WHERE a.type NOT IN ({obj_types}) AND a.nxt_type IN ({obj_types})
    AND NOT regexp_matches(
          substr(t.text, a.start + length(a.mention) + 1,
                 a.nxt_start - a.start - length(a.mention)),
          '[，,。！!？?]')
    AND lc.canonical_id <> rc.canonical_id
),
per_turn AS MATERIALIZED (
  SELECT conv_id, turn_idx, canonical_id, COUNT(*) AS n_inst
  FROM canonical GROUP BY 1, 2, 3
),
cross_ev AS MATERIALIZED (
  SELECT p.conv_id, p.subj_cid, '{COOCCUR_PRED}' AS pred,
         b.canonical_id AS obj_cid, p.src_turn AS turn_idx,
         CAST(p.n_src * b.n_inst AS BIGINT) AS n_evidence
  FROM (SELECT conv_id, turn_idx AS src_turn, canonical_id AS subj_cid,
               n_inst AS n_src,
               CAST(unnest(range(turn_idx + 1, turn_idx + {W} + 1)) AS INT)
                 AS probe_turn
        FROM per_turn) p
  JOIN per_turn b ON b.conv_id = p.conv_id AND b.turn_idx = p.probe_turn
  WHERE p.subj_cid <> b.canonical_id
),
same_ev AS MATERIALIZED (
  SELECT a.conv_id, a.canonical_id AS subj_cid, '{COOCCUR_PRED}' AS pred,
         b.canonical_id AS obj_cid, a.turn_idx,
         CAST(COUNT(*) AS BIGINT) AS n_evidence
  FROM canonical a
  JOIN canonical b ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx
  WHERE a.canonical_id <> b.canonical_id AND b.start > a.start
  GROUP BY a.conv_id, a.turn_idx, a.canonical_id, b.canonical_id
),
ev AS (
  SELECT * FROM adj_ev
  UNION ALL SELECT * FROM cross_ev
  UNION ALL SELECT * FROM same_ev
),
agg AS MATERIALIZED (
  SELECT conv_id, subj_cid, pred, obj_cid, MIN(turn_idx) AS turn_idx,
         CAST(SUM(n_evidence) AS BIGINT) AS n_evidence
  FROM ev GROUP BY 1, 2, 3, 4
),
names AS MATERIALIZED (
  SELECT canonical_id, MIN(canonical_name) AS nm FROM canonical GROUP BY 1
)
SELECT ns.nm AS subj, agg.pred, no.nm AS obj, agg.conv_id,
       CAST(agg.turn_idx AS INT) AS turn_idx, agg.n_evidence
FROM agg
JOIN names ns ON ns.canonical_id = agg.subj_cid
JOIN names no ON no.canonical_id = agg.obj_cid
"""
