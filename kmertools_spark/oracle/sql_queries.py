"""Full DuckDB oracle SQL strings for __spark_entry__.oracle_sql().

Kept here (importable, testable) so the entry module stays thin. Every
string is plain DuckDB 1.0 SQL over the driver's pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings); the transcripts/probes tables are derived inline via the
exact same SQL the Spark side runs (sources/transcripts.py).
"""

from __future__ import annotations

from ..functions.text import LANG_MARKERS
from ..sources.transcripts import PROBES_SQL, TRANSCRIPTS_SQL
from .hashing import SIMHASH_BITS
from .sql import (
    MOD,
    decode_expr,
    gram_cte,
    kmer_cte,
    minhash_banded_ctes,
    minhash_sig_cte,
    minimiser_spans_ctes,
    perm_values,
    shingle_cte,
)

T = f"t AS ({TRANSCRIPTS_SQL})"
P = f"p AS (SELECT DISTINCT * FROM ({PROBES_SQL}) _p)"
K4 = f"grams AS ({gram_cte(4, 't')}), kmers AS ({kmer_cte(4)})"

SESS = """
sess0 AS (
  SELECT conv_id, turn_idx, text, ts,
    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 0
         WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1
         ELSE 0 END AS newsess
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
sess AS (
  SELECT conv_id, turn_idx, text, ts,
    CAST(sum(newsess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
  FROM sess0
)"""

# per-char codes + per-turn OOV stats for the w=0 minimizer oracle
CH = """
ch AS (
  SELECT conv_id, turn_idx, i,
    CASE upper(substr(text, CAST(i AS INT), 1))
      WHEN 'A' THEN 0 WHEN 'C' THEN 1 WHEN 'G' THEN 2
      WHEN 'T' THEN 3 WHEN 'U' THEN 3 ELSE 4 END AS c
  FROM (SELECT conv_id, turn_idx, text,
               unnest(range(1, CAST(length(text) AS BIGINT) + 1)) AS i
        FROM t) _
),
st AS (
  SELECT conv_id, turn_idx, CAST(count(*) AS BIGINT) AS len,
    CAST(coalesce(max(CASE WHEN c >= 4 THEN i END), 0) AS BIGINT) AS last_oov,
    count(CASE WHEN c >= 4 THEN 1 END) AS n_oov
  FROM ch GROUP BY conv_id, turn_idx
)"""


def _occ(padded: str, needle: str) -> str:
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{needle}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def _lang_hits(lang: str) -> str:
    return " + ".join(_occ("pad", m) for m in LANG_MARKERS[lang])


# both generated from the SAME LANG_MARKERS table the Spark-side
# lang_guess reads — adding a language regenerates Spark and oracle in
# lockstep (r3 VERDICT item 7)
_LANGS = list(LANG_MARKERS)


def _lang_hits_select() -> str:
    """one `<hits-expr> AS <lang>` column per language."""
    return ",\n    ".join(f"{_lang_hits(lg)} AS {lg}" for lg in _LANGS)


def _lang_case_sql() -> str:
    """Declaration-order argmax: the first language whose count is >=
    every later language's and > 0 wins (same tie-break as lang_guess's
    left fold)."""
    whens = []
    for i, lg in enumerate(_LANGS):
        conds = [f"{lg} >= {m}" for m in _LANGS[i + 1 :]] + [f"{lg} > 0"]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


# Shared fragments, single-sited (code-review r5): the 4-gram
# Jaccard-verify chain (q19/q42), its rounded ratio expression, and
# the portable-regex normalizer (q48 + the prep CTEs).
_JACC_CTES = """g AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 4) AS gram
  FROM (SELECT doc_id, text,
               unnest(range(1, CAST(length(text) - 3 AS BIGINT) + 1)) AS i
        FROM documents) _
),
sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN g a ON a.doc_id = c.id_a
  JOIN g b ON b.doc_id = c.id_b AND b.gram = a.gram
  GROUP BY c.id_a, c.id_b
)"""
_JACC_EXPR = "round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6)"
_NORM_EXPR = r"""trim(regexp_replace(regexp_replace(text, '[\x00-\x1F]', ' ', 'g'),
                        ' +', ' ', 'g'))"""


def build() -> dict[str, str]:
    q: dict[str, str] = {}

    q["q01_transcripts_identity"] = TRANSCRIPTS_SQL

    q["q02_sessionize"] = f"""
WITH {T}, {SESS}
SELECT conv_id, turn_idx, session_seq FROM sess"""

    q["q03_session_stats"] = f"""
WITH {T}, {SESS}
SELECT conv_id || '#' || CAST(session_seq AS VARCHAR) AS session_id,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(sum(length(text)) AS BIGINT) AS n_chars,
  CAST(max(epoch_ms(ts)) - min(epoch_ms(ts)) AS BIGINT) AS duration_ms
FROM sess GROUP BY conv_id, session_seq"""

    q["q04_lag_lead"] = f"""
WITH {T}
SELECT conv_id, turn_idx,
  CAST(lag(length(text)) OVER w AS BIGINT) AS prev_len,
  CAST(lead(length(text)) OVER w AS BIGINT) AS next_len,
  lag(role) OVER w AS prev_role,
  CAST(epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS BIGINT) AS gap_ms
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)"""

    q["q05_kmer_counts"] = f"""
WITH {T}, {K4}
SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM kmers GROUP BY kmer"""

    # top-k + the ACGT decode codec (former q25 row folded in, r6)
    q["q06_kmer_topk"] = f"""
WITH {T}, {K4},
cnts AS (SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM kmers GROUP BY kmer)
SELECT kmer, {decode_expr("kmer", 4)} AS acgt, cnt
FROM cnts ORDER BY cnt DESC, kmer LIMIT 25"""

    q["q07_composition"] = f"""
WITH {T}, {K4},
ck AS (SELECT conv_id, turn_idx, kmer, CAST(count(*) AS DOUBLE) AS cnt
       FROM kmers GROUP BY conv_id, turn_idx, kmer)
SELECT conv_id, turn_idx, kmer,
  cnt / greatest(1.0, sum(cnt) OVER (PARTITION BY conv_id, turn_idx)) AS freq
FROM ck"""

    q["q08_composition_raw"] = f"""
WITH {T}, {K4},
ck AS (SELECT conv_id, turn_idx, CAST(fwd AS BIGINT) AS kmer,
              CAST(count(*) AS DOUBLE) AS cnt
       FROM kmers GROUP BY conv_id, turn_idx, fwd)
SELECT conv_id, turn_idx, kmer,
  cnt / greatest(1.0, 2.0 * sum(cnt) OVER (PARTITION BY conv_id, turn_idx)) AS freq
FROM ck"""

    q["q09_minimizer_w0"] = f"""
WITH {T}, {K4}, {CH}
SELECT k.conv_id, k.turn_idx, CAST(min(k.kmer) AS BIGINT) AS mmer,
  CAST(0 AS BIGINT) AS win_start, s.len AS win_end
FROM kmers k JOIN st s ON s.conv_id = k.conv_id AND s.turn_idx = k.turn_idx
WHERE s.n_oov = 0 AND s.len >= 4
GROUP BY k.conv_id, k.turn_idx, s.len
UNION ALL
SELECT conv_id, turn_idx, CAST(-1 AS BIGINT), last_oov, len
FROM st WHERE n_oov > 0 AND len - last_oov >= 4"""

    # raw counts AND the L1-normalized path (former q37 row folded in,
    # r6) under one oracle; norm divides by the per-turn total, which
    # over the NON-ZERO bins equals the full-vector L1 the kernel uses
    q["q10_coverage"] = f"""
WITH {T}, {K4},
gcnt AS (SELECT kmer, count(*) AS c FROM kmers GROUP BY kmer),
occ AS (SELECT k.conv_id, k.turn_idx,
          least(CAST(g.c // 4 AS BIGINT), 7) AS bin
        FROM kmers k JOIN gcnt g USING (kmer)),
hist AS (SELECT conv_id, turn_idx, bin, count(*) AS n
         FROM occ GROUP BY conv_id, turn_idx, bin)
SELECT conv_id, turn_idx, bin, CAST(n AS BIGINT) AS n,
  CAST(n AS DOUBLE) / greatest(1.0, sum(CAST(n AS DOUBLE))
      OVER (PARTITION BY conv_id, turn_idx)) AS freq
FROM hist"""

    # alternative-physical-plan twin: identical rows to q10
    q["q30_coverage_join"] = q["q10_coverage"]

    q["q11_rolling_turns"] = f"""
WITH {T}, {K4},
ck AS (SELECT conv_id, turn_idx, kmer, count(*) AS c
       FROM kmers GROUP BY conv_id, turn_idx, kmer)
SELECT t1.conv_id, t1.turn_idx, c2.kmer, CAST(sum(c2.c) AS BIGINT) AS cnt
FROM t t1 JOIN ck c2 ON c2.conv_id = t1.conv_id
  AND c2.turn_idx BETWEEN t1.turn_idx - 2 AND t1.turn_idx
GROUP BY t1.conv_id, t1.turn_idx, c2.kmer"""

    q["q12_rolling_time_stats"] = f"""
WITH {T}
SELECT conv_id, turn_idx,
  CAST(count(*) OVER w AS BIGINT) AS w_cnt,
  CAST(sum(length(text)) OVER w AS BIGINT) AS w_chars
FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_ms(ts)
  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)"""

    q["q13_asof"] = f"""
WITH {T}, {P},
j AS (
  SELECT p.conv_id, p.probe_ts, t.turn_idx,
    CAST(length(t.text) AS BIGINT) AS text_len,
    row_number() OVER (PARTITION BY p.conv_id, p.probe_ts
                       ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM p LEFT JOIN t ON t.conv_id = p.conv_id AND t.ts < p.probe_ts
)
SELECT conv_id, probe_ts, turn_idx AS asof_turn_idx, text_len AS asof_text_len
FROM j WHERE rn = 1"""

    # q50: q13 + 1h staleness tolerance. Tolerance is a LOWER bound on
    # ts, so filtering candidates before the rank (here) equals nulling
    # the picked row after (the Spark union-marker plan).
    q["q50_asof_tolerance"] = f"""
WITH {T}, {P},
j AS (
  SELECT p.conv_id, p.probe_ts, t.turn_idx,
    CAST(length(t.text) AS BIGINT) AS text_len,
    row_number() OVER (PARTITION BY p.conv_id, p.probe_ts
                       ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM p LEFT JOIN t ON t.conv_id = p.conv_id AND t.ts < p.probe_ts
    AND epoch_ms(t.ts) >= epoch_ms(p.probe_ts) - 3600000
)
SELECT conv_id, probe_ts, turn_idx AS asof_turn_idx, text_len AS asof_text_len
FROM j WHERE rn = 1"""

    q["q14_session_to_date"] = f"""
WITH {T}, {SESS}
SELECT conv_id, turn_idx,
  CAST(count(*) OVER w AS BIGINT) AS std_turns,
  CAST(sum(length(text)) OVER w AS BIGINT) AS std_chars
FROM sess WINDOW w AS (PARTITION BY conv_id, session_seq ORDER BY ts, turn_idx
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

    q["q15_dedup_exact"] = """
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY text"""

    q["q16_minhash"] = f"""
WITH sh AS ({shingle_cte(8)}),
{minhash_sig_cte()}
SELECT doc_id, CAST(perm AS INT) AS perm, CAST(sig AS BIGINT) AS sig
FROM sig"""

    # the exact uncapped banding pairs + the hot-band cap's membership
    # flag (former q41 row folded in, r6): small buckets pair fully,
    # flooded buckets emit star edges to the bucket minimum — capped
    # pairs are a strict subset of cand, so a LEFT join flags them
    q["q17_lsh_candidates"] = f"""
WITH sh AS ({shingle_cte(8)}),
{minhash_banded_ctes(4)},
sized AS (
  SELECT doc_id, band, key,
    count(*) OVER (PARTITION BY band, key) AS n,
    min(doc_id) OVER (PARTITION BY band, key) AS mn
  FROM banded
),
capped AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE a.n <= 2
    UNION ALL
    SELECT mn, doc_id FROM sized WHERE n > 2 AND doc_id <> mn
  ) _u
)
SELECT c.id_a, c.id_b,
  CAST(CASE WHEN cp.id_a IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_capped
FROM cand c
LEFT JOIN capped cp ON cp.id_a = c.id_a AND cp.id_b = c.id_b"""

    # SIMHASH_BITS from the kernel module, not a bare 16: every other
    # shared constant regenerates the twins in lockstep (code-review r5)
    bits_values = ", ".join(f"({b}, {2 ** b})" for b in range(SIMHASH_BITS))
    q["q18_simhash"] = f"""
WITH sh AS ({shingle_cte(8)}),
bits AS (
  SELECT doc_id, b, p,
    CASE WHEN sum(((h // p) % 2) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
  FROM sh CROSS JOIN (VALUES {bits_values}) bb(b, p)
  GROUP BY doc_id, b, p
)
SELECT doc_id, CAST(sum(bit * p) AS BIGINT) AS simhash FROM bits GROUP BY doc_id"""

    q["q19_jaccard"] = f"""
WITH sh AS ({shingle_cte(8)}),
{minhash_banded_ctes(4)},
{_JACC_CTES}
SELECT id_a, id_b,
  {_JACC_EXPR} AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE {_JACC_EXPR} >= 0.4"""

    q["q20_ann_topk"] = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.embedding AS qe, c.embedding AS ce
  FROM q, embeddings c WHERE c.vec_id <> q.vec_id
),
expl AS (
  SELECT query_id, neighbor_id,
    CAST(qe[CAST(i AS INT)] AS DOUBLE) AS x, CAST(ce[CAST(i AS INT)] AS DOUBLE) AS y
  FROM (SELECT *, unnest(range(1, 65)) AS i FROM pairs) _
),
dots AS (
  SELECT query_id, neighbor_id,
    sum(x * y) AS dot, sqrt(sum(x * x)) AS nq, sqrt(sum(y * y)) AS nc
  FROM expl GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, dot / (nq * nc) AS cos,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY dot / (nq * nc) DESC, neighbor_id) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5"""

    q["q21_cosine_neardup"] = """
WITH emb AS (SELECT * FROM embeddings WHERE vec_id < 1000),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS qe, b.embedding AS ce
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
),
expl AS (
  SELECT id_a, id_b,
    CAST(qe[CAST(i AS INT)] AS DOUBLE) AS x, CAST(ce[CAST(i AS INT)] AS DOUBLE) AS y
  FROM (SELECT *, unnest(range(1, 65)) AS i FROM pairs) _
),
dots AS (
  SELECT id_a, id_b, sum(x * y) AS dot,
         sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
  FROM expl GROUP BY id_a, id_b
)
SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos
FROM dots WHERE round(dot / (na * nb), 6) >= 0.2"""

    lang_case = _lang_case_sql()
    q["q22_text_features"] = f"""
WITH base AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
hits AS (
  SELECT doc_id, text, n_chars,
    {_lang_hits_select()},
    {_occ("text", " ")} AS spaces
  FROM base
),
feat AS (
  SELECT doc_id,
    CASE WHEN n_chars = 0 THEN 0 ELSE spaces + 1 END AS n_tokens,
    {lang_case} AS lang,
    n_chars, spaces,
    n_chars - spaces AS alpha,
    CASE WHEN n_chars = 0 THEN 0 ELSE spaces + 1 END AS n_words
  FROM hits
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, lang,
  round(
    0.5 * (CASE WHEN n_chars > 0
                THEN CAST(alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)
                ELSE 0.0 END)
    + 0.5 * coalesce(
        CASE WHEN n_words > 0 AND CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
                  AND CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
             THEN 1.0
             WHEN n_words > 0 THEN 0.0 END, 0.0), 6) AS quality
FROM feat"""

    # the gate hash comes from the operator module's ONE sql twin
    # (code-review r5: the inlined copies could drift from sample_gate)
    from ..operators.sampling import sample_sql_hash
    _strat_rates = {"en": 0.5, "fr": 1.0, "de": 0.25, "es": 1.0}
    _strat_default = 0.1
    _rate_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{s}' THEN {int(r * MOD)}"
            for s, r in sorted(_strat_rates.items())
        )
        + f" ELSE {int(_strat_default * MOD)} END"
    )
    # q47: deterministic per-language sampling quotas (same hash gate
    # as q43, threshold chosen by the q22 language heuristic)
    q["q47_stratified_sample"] = f"""
WITH base AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
hits AS (
  SELECT doc_id,
    {_lang_hits_select()}
  FROM base
),
lng AS (SELECT doc_id, {lang_case} AS lang FROM hits)
SELECT doc_id, lang FROM lng
WHERE {sample_sql_hash('doc_id')} < {_rate_case}"""

    # q52: the capstone composition — normalize -> quality/repetition/
    # token filters -> per-language stratified sampling -> deterministic
    # shuffle + 256-token packing. Each CTE is the proven q48/q22/q49/
    # q47/q46 shape, run over the NORMALIZED text.
    from .hashing import PACK_A as _PKA
    from .hashing import PACK_B as _PKB

    _prep_ctes = rf"""nrm AS (
  SELECT doc_id,
    {_NORM_EXPR} AS norm
  FROM documents
),
base AS (
  SELECT doc_id, norm, ' ' || lower(norm) || ' ' AS pad,
    CAST(length(norm) AS BIGINT) AS n_chars,
    {_occ("norm", " ")} AS spaces
  FROM nrm
),
rep AS (
  SELECT doc_id,
    round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS rep
  FROM (SELECT doc_id, substr(norm, CAST(i AS INT), 4) AS gram
        FROM (SELECT doc_id, norm,
                     unnest(range(1, CAST(length(norm) - 3 AS BIGINT) + 1)) AS i
              FROM nrm WHERE length(norm) >= 4) _) g
  GROUP BY doc_id
),
hits AS (
  SELECT doc_id, n_chars, spaces,
    {_lang_hits_select()}
  FROM base
),
feat AS (
  SELECT doc_id,
    CAST(CASE WHEN n_chars = 0 THEN 0 ELSE spaces + 1 END AS BIGINT) AS n_tok,
    {lang_case} AS lang,
    round(
      0.5 * (CASE WHEN n_chars > 0
                  THEN CAST(n_chars - spaces AS DOUBLE) / CAST(n_chars AS DOUBLE)
                  ELSE 0.0 END)
      + 0.5 * coalesce(
          CASE WHEN (CASE WHEN n_chars = 0 THEN 0 ELSE spaces + 1 END) > 0
                    AND CAST(n_chars - spaces AS DOUBLE) / (spaces + 1) >= 3.0
                    AND CAST(n_chars - spaces AS DOUBLE) / (spaces + 1) <= 10.0
               THEN 1.0
               WHEN (CASE WHEN n_chars = 0 THEN 0 ELSE spaces + 1 END) > 0
               THEN 0.0 END, 0.0), 6) AS q
  FROM hits
)"""
    # q52: the capstone composition over the shared prep CTEs
    q["q52_training_prep"] = rf"""
WITH {_prep_ctes},
keep AS (
  SELECT f.doc_id, f.n_tok
  FROM feat f JOIN rep r ON r.doc_id = f.doc_id
  WHERE f.q >= 0.5 AND r.rep >= 0.3 AND f.n_tok >= 5
    AND {sample_sql_hash('f.doc_id')}
        < CASE f.lang WHEN 'en' THEN {int(0.8 * MOD)} ELSE {int(0.3 * MOD)} END
),
off AS (
  SELECT doc_id, n_tok AS tok,
    CAST(COALESCE(sum(n_tok) OVER (ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM (SELECT keep.*,
               (({_PKA} * ((doc_id % {MOD} + {MOD}) % {MOD}) + {_PKB}) % {MOD}) AS h
        FROM keep) _
),
ex AS (
  SELECT doc_id, tok, off,
    unnest(range(off // 256, (off + tok - 1) // 256 + 1)) AS bin
  FROM off
)
SELECT doc_id, CAST(bin AS BIGINT) AS bin,
  CAST(GREATEST(off, bin * 256) - off AS BIGINT) AS tok_start,
  CAST(GREATEST(off, bin * 256) - bin * 256 AS BIGINT) AS pos_in_bin,
  CAST(LEAST(off + tok, (bin + 1) * 256)
       - GREATEST(off, bin * 256) AS BIGINT) AS n_tok
FROM ex"""

    # q55: greedy longest-match tokenizer (pinned DEMO_VOCAB) + id-order
    # packing. The recursive CTE replays the EXACT greedy scan: from
    # position pos, advance by the longest vocab token matching there
    # (ties impossible: max over lengths), else by 1 (byte-fallback),
    # counting one token either way — the same rule as
    # functions/tokenize.greedy_token_count. Bounded to 200 docs: the
    # oracle is inherently sequential (one iteration per token).
    from ..functions.tokenize import DEMO_VOCAB as _VOC

    _voc_sql = ", ".join(f"('{t}')" for t in _VOC)
    q["q55_vocab_pack"] = f"""
WITH RECURSIVE vocab(tok) AS (VALUES {_voc_sql}),
docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
step(doc_id, pos, cnt) AS (
  SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM docs
  UNION ALL
  SELECT s.doc_id,
    s.pos + coalesce((SELECT max(length(v.tok)) FROM vocab v
                      WHERE substr(d.text, CAST(s.pos AS INT), length(v.tok)) = v.tok), 1),
    s.cnt + 1
  FROM step s JOIN docs d USING (doc_id)
  WHERE s.pos <= length(d.text)
),
cnt AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS tok FROM step GROUP BY doc_id),
nz AS (SELECT doc_id, tok FROM cnt WHERE tok > 0),
off AS (
  SELECT doc_id, tok,
    CAST(COALESCE(sum(tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM nz
),
ex AS (
  SELECT doc_id, tok, off,
    unnest(range(off // 64, (off + tok - 1) // 64 + 1)) AS bin
  FROM off
)
SELECT doc_id, CAST(bin AS BIGINT) AS bin,
  CAST(GREATEST(off, bin * 64) - off AS BIGINT) AS tok_start,
  CAST(GREATEST(off, bin * 64) - bin * 64 AS BIGINT) AS pos_in_bin,
  CAST(LEAST(off + tok, (bin + 1) * 64)
       - GREATEST(off, bin * 64) AS BIGINT) AS n_tok
FROM ex"""

    # q53: q13's semantics through the router's all-hot edge (every
    # entity takes the bucketed branch) — the oracle is IDENTICAL
    q["q53_asof_bucketed"] = q["q13_asof"]
    # q56: the skew router (cold window-plan + hot bucketed-plan union)
    # — alternative physical composition, identical oracle
    q["q56_asof_auto"] = q["q13_asof"]

    # q54: the streaming-safe prep_filter prefix (normalize -> filters
    # -> stratified sample) — the same shared CTEs, full column output
    q["q54_prep_filter"] = rf"""
WITH {_prep_ctes}
SELECT f.doc_id, f.n_tok, f.q, r.rep, f.lang
FROM feat f JOIN rep r ON r.doc_id = f.doc_id
WHERE f.q >= 0.5 AND r.rep >= 0.3 AND f.n_tok >= 5
  AND {sample_sql_hash('f.doc_id')}
      < CASE f.lang WHEN 'en' THEN {int(0.8 * MOD)} ELSE {int(0.3 * MOD)} END"""

    # q48: portable-regex normalizer (no \\s — Java and RE2 disagree on
    # its class); DuckDB needs the 'g' flag for replace-all
    q["q48_normalize_text"] = rf"""
WITH n AS (
  SELECT doc_id,
    {_NORM_EXPR} AS norm
  FROM documents
)
SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars FROM n"""

    # q49: repetition filter — the oracle counts DISTINCT grams
    # relationally; the engine computes the same ratio per row in codegen
    q["q49_repetition_ratio"] = """
WITH g AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 4) AS gram
  FROM (SELECT doc_id, text,
               unnest(range(1, CAST(length(text) - 3 AS BIGINT) + 1)) AS i
        FROM documents WHERE length(text) >= 4) _
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS rep_ratio
FROM g GROUP BY doc_id"""

    q["q23_fingerprint"] = f"""
WITH sh AS ({shingle_cte(16)})
SELECT doc_id, CAST(min(h) AS BIGINT) AS fp FROM sh GROUP BY doc_id"""

    q["q24_minimizer_buckets"] = f"""
WITH {T}, {K4}, {CH},
runs AS (
  SELECT k.conv_id, k.turn_idx, CAST(min(k.kmer) AS BIGINT) AS mmer
  FROM kmers k JOIN st s ON s.conv_id = k.conv_id AND s.turn_idx = k.turn_idx
  WHERE s.n_oov = 0 AND s.len >= 4
  GROUP BY k.conv_id, k.turn_idx
  UNION ALL
  SELECT conv_id, turn_idx, CAST(-1 AS BIGINT)
  FROM st WHERE n_oov > 0 AND len - last_oov >= 4
)
SELECT mmer, CAST(count(*) AS BIGINT) AS n_postings FROM runs GROUP BY mmer"""

    q["q32_dedup_clusters"] = f"""
WITH RECURSIVE sh AS ({shingle_cte(8)}),
{minhash_banded_ctes(4)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION SELECT id_b, id_a FROM cand
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node"""

    q["q34_asof_vector"] = f"""
WITH {T}, {P}, {K4},
picked AS (
  SELECT p.conv_id, p.probe_ts, t.turn_idx,
    row_number() OVER (PARTITION BY p.conv_id, p.probe_ts
                       ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM p JOIN t ON t.conv_id = p.conv_id AND t.ts < p.probe_ts
),
pasof AS (SELECT conv_id, probe_ts, turn_idx FROM picked WHERE rn = 1),
ck AS (SELECT conv_id, turn_idx, kmer, CAST(count(*) AS DOUBLE) AS cnt
       FROM kmers GROUP BY conv_id, turn_idx, kmer),
cv AS (
  SELECT conv_id, turn_idx, kmer,
    cnt / greatest(1.0, sum(cnt) OVER (PARTITION BY conv_id, turn_idx)) AS freq
  FROM ck
)
SELECT a.conv_id, a.probe_ts, cv.kmer, cv.freq
FROM pasof a JOIN cv ON cv.conv_id = a.conv_id AND cv.turn_idx = a.turn_idx"""

    q["q33_role_rollup"] = f"""
WITH {T}
SELECT coalesce(role, 'ALL') AS role, coalesce(tool, 'ALL') AS tool,
  CAST(GROUPING(role) * 2 + GROUPING(tool) AS INT) AS lvl,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM t GROUP BY ROLLUP(role, tool)"""

    # session-to-date counts AND L1-normalized frequencies (former q27
    # row folded in, r6) under one oracle
    q["q35_session_vectors"] = f"""
WITH {T}, {SESS}, {K4},
ck AS (SELECT conv_id, turn_idx, kmer, count(*) AS c
       FROM kmers GROUP BY conv_id, turn_idx, kmer),
win AS (
  SELECT s1.conv_id, s1.turn_idx, c2.kmer, CAST(sum(c2.c) AS BIGINT) AS cnt
  FROM sess s1
  JOIN sess s2 ON s2.conv_id = s1.conv_id
    AND s2.session_seq = s1.session_seq AND s2.turn_idx <= s1.turn_idx
  JOIN ck c2 ON c2.conv_id = s2.conv_id AND c2.turn_idx = s2.turn_idx
  GROUP BY s1.conv_id, s1.turn_idx, c2.kmer
)
SELECT conv_id, turn_idx, kmer, cnt,
  CAST(cnt AS DOUBLE) / greatest(1.0, sum(CAST(cnt AS DOUBLE))
      OVER (PARTITION BY conv_id, turn_idx)) AS freq
FROM win"""

    q["q38_backfill_stream"] = f"""
WITH {T}, {SESS}, {K4},
ck AS (SELECT conv_id, turn_idx, kmer, count(*) AS c
       FROM kmers GROUP BY conv_id, turn_idx, kmer),
roll AS (
  SELECT t1.conv_id, t1.turn_idx, c2.kmer, CAST(sum(c2.c) AS BIGINT) AS cnt
  FROM t t1 JOIN ck c2 ON c2.conv_id = t1.conv_id
    AND c2.turn_idx BETWEEN t1.turn_idx - 2 AND t1.turn_idx
  GROUP BY t1.conv_id, t1.turn_idx, c2.kmer
)
SELECT r.conv_id, r.turn_idx, s.session_seq, r.kmer, r.cnt
FROM roll r JOIN sess s ON s.conv_id = r.conv_id AND s.turn_idx = r.turn_idx"""

    q["q36_kmer_counts_k5"] = f"""
WITH {T},
grams AS ({gram_cte(5, 't')}),
kmers AS ({kmer_cte(5)})
SELECT kmer, CAST(count(*) AS BIGINT) AS cnt FROM kmers GROUP BY kmer"""

    # windowed minimizer-run state machine (W1) — full SQL twins of the
    # numpy kernel at two (w, m) parameterizations
    m5 = f"grams AS ({gram_cte(5, 't')}), kmers AS ({kmer_cte(5)})"
    q["q26_minimizer_runs"] = f"""
WITH {T}, {m5}, {CH},
{minimiser_spans_ctes(8, 5)}
SELECT conv_id, turn_idx, mmer, win_start, win_end FROM spans"""

    q["q28_record_minimisers"] = f"""
WITH {T}, {K4}, {CH},
{minimiser_spans_ctes(12, 4)}
SELECT conv_id, turn_idx,
  CAST(row_number() OVER (PARTITION BY conv_id, turn_idx
       ORDER BY win_start, win_end, mmer) - 1 AS INT) AS run_seq,
  win_start, win_end, mmer
FROM spans"""

    # CGR walk (P7): the affine recurrence evaluated with the exact same
    # FP op order as the kernel — (corner + prev) / 2 per char — so the
    # doubles are bit-identical (composition/src/cgr.rs:127-144)
    q["q29_cgr"] = f"""
WITH RECURSIVE {T},
cl AS (
  SELECT conv_id, turn_idx,
         upper(regexp_replace(text, '[^ACGTUacgtu]', '', 'g')) AS s
  FROM t
),
walk(conv_id, turn_idx, i, x, y) AS (
  SELECT conv_id, turn_idx, 0,
         CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE)
  FROM cl WHERE length(s) > 0
  UNION ALL
  SELECT w.conv_id, w.turn_idx, w.i + 1,
    (CAST(CASE WHEN substr(c.s, CAST(w.i AS INT) + 1, 1) IN ('G','T','U')
          THEN 1 ELSE 0 END AS DOUBLE) + w.x) / CAST(2 AS DOUBLE),
    (CAST(CASE WHEN substr(c.s, CAST(w.i AS INT) + 1, 1) IN ('C','G')
          THEN 1 ELSE 0 END AS DOUBLE) + w.y) / CAST(2 AS DOUBLE)
  FROM walk w JOIN cl c ON c.conv_id = w.conv_id AND c.turn_idx = w.turn_idx
  WHERE w.i < length(c.s)
)
SELECT conv_id, turn_idx, CAST(i - 1 AS INT) AS pos, x, y
FROM walk WHERE i >= 1"""

    q["q31_exploded_kmers"] = f"""
WITH {T}, {K4}
SELECT conv_id, turn_idx, pos, CAST(fwd AS BIGINT) AS fwd, CAST(rc AS BIGINT) AS rc
FROM kmers"""

    # alternative-physical-plan twins: identical rows to the originals
    q["q40_dedup_digest"] = q["q15_dedup_exact"]

    from ..operators.sampling import MOD as _SMOD
    from ..operators.sampling import SAMPLE_A, SAMPLE_B

    # sample_sql_hash, NOT an inlined copy: the bare `doc_id % MOD`
    # fold is sign-preserving in DuckDB, so a negative doc_id would
    # label every row 'train' here while Spark's pmod can say 'val'
    # (code-review r5 — q43 predated the r4 pmod-fold fix)
    q["q43_deterministic_sample"] = f"""
WITH h AS (
  SELECT doc_id, {sample_sql_hash('doc_id')} AS hv
  FROM documents
)
SELECT doc_id,
  CASE WHEN hv < {int(0.8 * _SMOD)} THEN 'train' ELSE 'val' END AS split
FROM h"""

    # the full dedup pipeline: candidates -> jaccard verify -> components
    q["q42_dedup_pipeline"] = f"""
WITH RECURSIVE sh AS ({shingle_cte(8)}),
{minhash_banded_ctes(4)},
{_JACC_CTES},
ver AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE {_JACC_EXPR} >= 0.4
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION SELECT id_b, id_a FROM ver
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
       (node = min(r)) AS keep
FROM reach GROUP BY node"""

    _add_ann_oracles(q)

    from .hashing import PACK_A, PACK_B

    # q46: deterministic shuffle + concat-and-chunk packing into
    # 512-token windows (operators/packing.pack_documents, order="hash").
    # The oracle's window cumsum is the single-task plan the distributed
    # prefix-sum operator exists to avoid — identical values.
    cap = 512
    q["q46_pack_documents"] = f"""
WITH tk AS (
  SELECT doc_id,
    CAST(CASE WHEN length(text) = 0 THEN 0
         ELSE (length(text) - length(replace(text, ' ', ''))) + 1
         END AS BIGINT) AS tok,
    (({PACK_A} * ((doc_id % {MOD} + {MOD}) % {MOD}) + {PACK_B}) % {MOD}) AS h
  FROM documents
),
off AS (
  SELECT doc_id, tok,
    CAST(COALESCE(sum(tok) OVER (ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM tk WHERE tok > 0
),
ex AS (
  SELECT doc_id, tok, off,
    unnest(range(off // {cap}, (off + tok - 1) // {cap} + 1)) AS bin
  FROM off
)
SELECT doc_id, CAST(bin AS BIGINT) AS bin,
  CAST(GREATEST(off, bin * {cap}) - off AS BIGINT) AS tok_start,
  CAST(GREATEST(off, bin * {cap}) - bin * {cap} AS BIGINT) AS pos_in_bin,
  CAST(LEAST(off + tok, (bin + 1) * {cap})
       - GREATEST(off, bin * {cap}) AS BIGINT) AS n_tok
FROM ex"""

    return q


def _qdim_cte(src: str = "embeddings") -> str:
    """Fixed-point (floor(double(v) * QUANT) int64) per-dimension view —
    the FP-free coordinates both engines use for bucket / centroid
    decisions (oracle/hashing.QUANT)."""
    from .hashing import QUANT

    return f"""qdim AS (
  SELECT vec_id, i - 1 AS d,
    CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * {QUANT}.0) AS BIGINT) AS xq
  FROM (SELECT vec_id, embedding, unnest(range(1, 65)) AS i FROM {src}) _)"""


def _cos_rank_tail(src: str = "embeddings", k: int = 5) -> str:
    """cand(query_id, neighbor_id) -> exact cosine + top-k rank, the
    same double math and round(,6) as q20 so hashes match."""
    return f"""
expl AS (
  SELECT cc.query_id, cc.neighbor_id,
    CAST(qe.embedding[CAST(cc.i AS INT)] AS DOUBLE) AS x,
    CAST(ce.embedding[CAST(cc.i AS INT)] AS DOUBLE) AS y
  FROM (SELECT *, unnest(range(1, 65)) AS i FROM cand) cc
  JOIN {src} qe ON qe.vec_id = cc.query_id
  JOIN {src} ce ON ce.vec_id = cc.neighbor_id
),
dots AS (
  SELECT query_id, neighbor_id,
    sum(x * y) AS dot, sqrt(sum(x * x)) AS nq, sqrt(sum(y * y)) AS nc
  FROM expl GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, dot / (nq * nc) AS cos,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY dot / (nq * nc) DESC, neighbor_id) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


def _add_ann_oracles(q: dict[str, str]) -> None:
    """Exact twins for the deterministic ANN paths (gate rows r30, r33,
    q45 and q51). The Spark side runs the hash-plane /
    hash-init modes (operators/similarity.py), whose every bucket and
    list decision is exact int64 arithmetic on the shared constants —
    so these are full hash-checked oracles, not rows-only."""
    from .hashing import CENT_A, CENT_B, PLANE_A, PLANE_B

    pow_values = ", ".join(f"({p}, {1 << p})" for p in range(8))

    # r30: Rademacher hash-plane LSH buckets -> bucket-mate candidates
    # -> exact cosine top-5 (mirrors ann_topk_lsh(planes="hash")).
    q["r30_ann_lsh"] = f"""
WITH {_qdim_cte()},
proj AS (
  SELECT vec_id, p,
    sum(xq * (CASE WHEN (({PLANE_A} * (p * 64 + d) + {PLANE_B}) % {MOD}) % 2 = 1
              THEN 1 ELSE -1 END)) AS pr
  FROM qdim CROSS JOIN (SELECT unnest(range(0, 8)) AS p) pl
  GROUP BY vec_id, p
),
buck AS (
  SELECT proj.vec_id,
    CAST(sum(CASE WHEN pr > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
  FROM proj JOIN (VALUES {pow_values}) pv(pp, pw) ON pv.pp = proj.p
  GROUP BY proj.vec_id
),
cand AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buck qb JOIN buck cb
    ON cb.bucket = qb.bucket AND cb.vec_id <> qb.vec_id
  WHERE qb.vec_id < 8
),{_cos_rank_tail()}"""

    # r33: hash-ranked centroid picks -> int64 nearest-list assignment
    # (n_probe=3 probes) -> exact cosine top-5 (ann_topk_ivf(init="hash")).
    q["r33_ann_ivf"] = f"""
WITH {_qdim_cte()},
hv AS (
  SELECT vec_id,
    (({CENT_A} * ((vec_id % {MOD} + {MOD}) % {MOD})) % {MOD} + {CENT_B}) % {MOD} AS h
  FROM embeddings
),
cent AS (
  SELECT cvid, list_id FROM (
    SELECT vec_id AS cvid,
      row_number() OVER (ORDER BY h, vec_id) - 1 AS list_id
    FROM hv) _ WHERE list_id < 8
),
cdim AS (
  SELECT c.list_id, qd.d, qd.xq FROM cent c JOIN qdim qd ON qd.vec_id = c.cvid
),
dist AS (
  SELECT v.vec_id, c.list_id, sum((v.xq - c.xq) * (v.xq - c.xq)) AS dist
  FROM qdim v JOIN cdim c ON c.d = v.d
  GROUP BY v.vec_id, c.list_id
),
rk AS (
  SELECT vec_id, list_id,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS rn
  FROM dist
),
assign AS (SELECT vec_id, list_id FROM rk WHERE rn = 1),
probe AS (SELECT vec_id, list_id FROM rk WHERE rn <= 3 AND vec_id < 8),
cand AS (
  SELECT pr.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM probe pr JOIN assign a
    ON a.list_id = pr.list_id AND a.vec_id <> pr.vec_id
),{_cos_rank_tail()}"""

    # q45/q51 shared body: multi-table hash-plane near-dup candidates +
    # exact cosine verify (cosine_neardup_lsh(planes="hash"),
    # n_tables=2, n_planes=8, threshold=0.2, vec_id < 2000)
    neardup_ctes = f"""emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
{_qdim_cte("emb")},
proj AS (
  SELECT vec_id, t, p,
    sum(xq * (CASE WHEN (({PLANE_A} * ((t * 8 + p) * 64 + d) + {PLANE_B})
                          % {MOD}) % 2 = 1 THEN 1 ELSE -1 END)) AS pr
  FROM qdim
  CROSS JOIN (SELECT unnest(range(0, 2)) AS t) tt
  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) pl
  GROUP BY vec_id, t, p
),
buck AS (
  SELECT proj.vec_id, t,
    CAST(sum(CASE WHEN pr > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
  FROM proj JOIN (VALUES {pow_values}) pv(pp, pw) ON pv.pp = proj.p
  GROUP BY proj.vec_id, t
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buck a JOIN buck b
    ON b.t = a.t AND b.bucket = a.bucket AND a.vec_id < b.vec_id
),
expl AS (
  SELECT cc.id_a, cc.id_b,
    CAST(ae.embedding[CAST(cc.i AS INT)] AS DOUBLE) AS x,
    CAST(be.embedding[CAST(cc.i AS INT)] AS DOUBLE) AS y
  FROM (SELECT *, unnest(range(1, 65)) AS i FROM cand) cc
  JOIN emb ae ON ae.vec_id = cc.id_a
  JOIN emb be ON be.vec_id = cc.id_b
),
dots AS (
  SELECT id_a, id_b, sum(x * y) AS dot,
         sqrt(sum(x * x)) AS na, sqrt(sum(y * y)) AS nb
  FROM expl GROUP BY id_a, id_b
)"""

    q["q45_cosine_neardup_lsh"] = (
        "WITH "
        + neardup_ctes
        + """
SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos
FROM dots WHERE round(dot / (na * nb), 6) >= 0.2"""
    )

    # q51: the embedding dedup keep-list — q45's verified pairs fed
    # through connected components (recursive CTE, same shape as q42)
    q["q51_embedding_dedup_keep"] = (
        "WITH RECURSIVE "
        + neardup_ctes
        + """,
ver AS (
  SELECT id_a, id_b FROM dots WHERE round(dot / (na * nb), 6) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION SELECT id_b, id_a FROM ver
),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM emb
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
)
SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id,
       (node = min(r)) AS keep
FROM reach GROUP BY node"""
    )
