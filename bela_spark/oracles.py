"""ANSI-SQL (DuckDB) oracles for every SQL-expressible query in queries.py.

Each string runs against the driver's pre-registered views (documents,
embeddings, lineitem, orders, customer, nation, ...). Parity contract with the
Spark side (see queries.py docstring): identical md5/sha256/levenshtein/regexp
semantics, floats floored to 6 decimals, integers cast to BIGINT, rankings
totally ordered.
"""

from __future__ import annotations

# LSH blocking configs shared verbatim by the Spark queries (queries.py
# imports these) and the SQL twins below — one source of truth for the plane
# constants and bucket caps.
NEARDUP_LSH = dict(n_planes=6, n_tables=8, dim=64, seed=42, bucket_cap=64)
ANN_LSH = dict(n_planes=8, n_tables=4, dim=64, seed=42, bucket_cap=64)
ANN_IVF = dict(n_cells=16, n_probes=2, dim=64, seed=42, cell_cap=64)
# Audit cap for the ann_lsh_bucket_drops query. Deliberately far below the
# served cap (ANN_LSH bucket_cap=64): at fixture scale no bucket exceeds 64,
# so the drop-log MECHANISM would be invisible at the production cap — the
# audit cap makes real drop rows appear at every sf. One constant shared by
# the Spark query and this SQL twin.
LSH_DROPS_CAP = 4

# SimHash near-dup blocking (shared by queries.dedup_simhash* and the SQL
# twins): 63-bit fingerprints => the 7 pigeonhole blocks for hamming<=6 are
# 9 bits wide (512 buckets each), and hot block keys are capped at
# SIMHASH_BLOCK_CAP ids (lowest-ids-win) with a drop-log companion query —
# the r2 32-bit variant's 4-5-bit blocks made the blocked join ~7N^2/32.
# SIMHASH_DROPS_CAP is the audit cap for dedup_simhash_drops, below the
# served cap for the same reason as LSH_DROPS_CAP (fixture-visible rows).
SIMHASH_BITS = 63
SIMHASH_MAX_HAMMING = 6
SIMHASH_BLOCK_CAP = 64
SIMHASH_DROPS_CAP = 4

# MOSS over-common-fingerprint discard threshold (document frequency) shared
# by queries.dedup_winnow_pairs / dedup_winnow_fp_drops and their SQL twins.
WINNOW_MAX_DF = 50


def _ivf_cells_sql(
    n_cells: int,
    n_probes: int,
    dim: int,
    seed: int,
    cell_cap: int,
    id_col: str = "vec_id",
    src: str = "e",
) -> str:
    """CTE chain computing the SAME IVF cell assignments as
    operators.ann.ivf_cell_assignments: literal centroid VALUES, inner-product
    argmax with lowest-cell tie-break, lowest-ids-win cell cap."""
    from bela_spark.operators.ann import ivf_centroids

    rows = ",\n      ".join(
        f"({i}, [" + ", ".join(repr(v) for v in c) + "]::DOUBLE[])"
        for i, c in enumerate(ivf_centroids(n_cells, dim, seed))
    )
    return f"""
    cents(cell, cvals) AS (VALUES {rows}),
    cellranks AS (
      SELECT {id_col}, cell, row_number() OVER (
        PARTITION BY {id_col} ORDER BY d DESC, cell ASC) AS cell_rank
      FROM (
        SELECT s.{id_col}, c.cell, list_inner_product(s.emb, c.cvals) AS d
        FROM {src} s, cents c
      )
    ),
    cat_cells AS (
      SELECT {id_col} AS neighbor_id, cell FROM (
        SELECT {id_col}, cell,
               row_number() OVER (PARTITION BY cell ORDER BY {id_col}) AS rn
        FROM cellranks WHERE cell_rank = 1
      ) WHERE rn <= {cell_cap}
    ),
    probe_cells AS (
      SELECT {id_col} AS qvec_id, cell FROM cellranks WHERE cell_rank <= {n_probes}
    )
    """


def _lsh_keys_sql(
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
    bucket_cap: int,
    id_col: str = "vec_id",
    src: str = "e",
) -> str:
    """CTE chain computing the SAME capped LSH bucket keys as
    operators.ann.lsh_bucket_keys: the md5-derived hyperplanes become literal
    DOUBLE[] VALUES (repr round-trips exactly), the sign test is
    list_inner_product >= 0 (bit-identical to the Spark zip_with/aggregate
    sequential sum), the cap is the same lowest-ids-win row_number.
    Expects a prior CTE `{src}` with ({id_col}, emb DOUBLE[])."""
    from bela_spark.operators.ann import _hyperplanes

    rows = []
    for t in range(n_tables):
        for p, vals in enumerate(_hyperplanes(n_planes, dim, seed + 1000 * t)):
            arr = "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"
            rows.append(f"({t}, {p}, {arr})")
    values = ",\n      ".join(rows)
    return f"""
    planes(t, p, vals) AS (VALUES {values}),
    bits AS (
      SELECT s.{id_col}, pl.t, pl.p,
             CASE WHEN list_inner_product(s.emb, pl.vals) >= 0
                  THEN '1' ELSE '0' END AS bit
      FROM {src} s, planes pl
    ),
    bkeys0 AS (
      SELECT {id_col}, 't' || t::VARCHAR || ':' || string_agg(bit, '' ORDER BY p) AS key
      FROM bits GROUP BY {id_col}, t
    ),
    bkeys AS (
      SELECT {id_col}, key FROM (
        SELECT {id_col}, key,
               row_number() OVER (PARTITION BY key ORDER BY {id_col}) AS rn
        FROM bkeys0) WHERE rn <= {bucket_cap}
    )
    """


def _proj_weight_values() -> str:
    """VALUES rows (j, b, v) of the E2 projection matrix
    (operators.spans.projection_weights) — 16 x 128 integer literals."""
    from bela_spark.operators.spans import projection_weights

    w = projection_weights()
    return "VALUES " + ", ".join(
        f"({j}, {b}, {v})" for j, row in enumerate(w) for b, v in enumerate(row)
    )


def _simhash_block_values(bits: int, max_hamming: int) -> str:
    """VALUES rows (i, shift, mask) mirroring operators.dedup.simhash_blocks —
    the oracle replays the exact same bit-block keys."""
    from bela_spark.operators.dedup import simhash_blocks

    return "VALUES " + ", ".join(f"({i}, {s}, {m})" for i, s, m in simhash_blocks(bits, max_hamming))


# Shared fragments ----------------------------------------------------------

_BASE = """
recs AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
),
toks AS (
  SELECT doc_id, lang, source, norm,
         CASE WHEN norm = '' THEN []::VARCHAR[] ELSE string_split(norm, ' ') END AS t
  FROM recs
)
"""

# 63-bit SimHash fingerprint CTE (mirrors functions.hashing.simhash_fp):
# bit b votes on md5(token) nibble (b mod 32) — its HIGH bit for b < 32, its
# BIT-2 for b >= 32. Chains after _BASE (needs `toks`).
_SIMHASH_FP = (
    """
votes AS (
  SELECT u.doc_id, g.b AS b,
    sum(CASE WHEN (CASE WHEN g.b < 32
          THEN substr(md5(u.tok), (g.b + 1)::INT, 1)
               IN ('8','9','a','b','c','d','e','f')
          ELSE substr(md5(u.tok), (g.b - 31)::INT, 1)
               IN ('4','5','6','7','c','d','e','f') END)
        THEN 1 ELSE -1 END) AS v
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) u,
       generate_series(0, {last_bit}) g(b)
  GROUP BY u.doc_id, g.b
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
""".format(last_bit=SIMHASH_BITS - 1)
)

_SHINGLES = _BASE + """,
shingle_idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
shingle_rows AS (
  SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS shingle FROM shingle_idx
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS shingle FROM toks WHERE len(t) < 3
),
dshingles AS (SELECT DISTINCT doc_id, shingle FROM shingle_rows)
"""

_MINHASH = _SHINGLES + """,
mh AS (
  SELECT doc_id, g.seed AS seed, min(md5(shingle || '#' || g.seed::VARCHAR)) AS mh
  FROM dshingles, generate_series(0, 15) g(seed)
  GROUP BY doc_id, g.seed
)
"""

_KEYS = _MINHASH + """,
bands AS (
  SELECT doc_id, (seed // 4) AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, (seed // 4)
),
keys AS (
  SELECT doc_id, 'pfx:' || array_to_string(t[1:2], ' ') AS key
  FROM toks WHERE length('pfx:' || array_to_string(t[1:2], ' ')) > 4
  UNION
  SELECT doc_id, 'mh:' || band::VARCHAR || ':' || band_key AS key FROM bands
)
"""

# coarse first-token blocking shared by er_key_drops and er_capped_keys —
# single definition, mirroring queries._coarse_tok1_keys
_CKEYS = """ckeys AS (
  SELECT doc_id, 'tok1:' || t[1] AS key FROM toks WHERE len(t) > 0
)"""

# per-key cap replaying operators.pairs.candidate_pairs_with_drops (lowest
# doc_ids per key win; the salt grid never changes the pair set, so the
# capped equi-join IS the full oracle of the salted plan)
_PAIRS = _KEYS + """,
kkeys AS (
  SELECT doc_id, key FROM (
    SELECT doc_id, key, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
    FROM keys) WHERE rn <= 20000
),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.key AS key
  FROM kkeys a JOIN kkeys b USING (key)
  WHERE a.doc_id < b.doc_id
),
upairs AS (SELECT DISTINCT id1, id2 FROM cpairs)
"""

_SCORED = _PAIRS + """,
dtoks AS (SELECT doc_id, norm, list_distinct(t) AS dt FROM toks),
scored AS (
  SELECT p.id1, p.id2,
    CASE WHEN greatest(length(r1.norm), length(r2.norm)) = 0 THEN 1.0
         ELSE 1.0 - levenshtein(r1.norm, r2.norm)
              / greatest(length(r1.norm), length(r2.norm))::DOUBLE END AS f_lev,
    CASE WHEN len(list_distinct(r1.dt || r2.dt)) = 0 THEN 1.0
         ELSE len(list_intersect(r1.dt, r2.dt))
              / len(list_distinct(r1.dt || r2.dt))::DOUBLE END AS f_jac
  FROM upairs p
  JOIN dtoks r1 ON r1.doc_id = p.id1
  JOIN dtoks r2 ON r2.doc_id = p.id2
),
scored2 AS (SELECT id1, id2, f_lev, f_jac, (f_lev + f_jac) / 2.0 AS score FROM scored)
"""

_CLUSTERS = _SCORED + """,
edges AS (SELECT id1, id2 FROM scored2 WHERE score >= 0.60),
sym AS (SELECT id1 AS u, id2 AS v FROM edges UNION SELECT id2, id1 FROM edges),
cc(id, comp) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, c.comp FROM cc c JOIN sym s ON s.u = c.id WHERE c.comp < s.v
),
comp AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
clusters AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id)::BIGINT AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
"""

# IDF-weighted scoring over the candidate pairs (operators/idf.py twin):
# anchored-log2 integer weights, weighted jaccard, 0.2 lev / 0.5 wjac blend —
# shared by er_idf_scored_pairs (floored feature rows) and er_idf_clusters
# (thresholded edges + recursive CC).
_IDF_SCORED = _PAIRS + """,
dtok AS (SELECT doc_id, unnest(list_distinct(t)) AS token FROM toks),
nn AS (SELECT count(*) AS n FROM toks),
dfreq AS (SELECT token, count(*) AS df FROM dtok GROUP BY token),
tw AS (
  SELECT d.doc_id, d.token,
         greatest(1, length(bin(nn.n)) - length(bin(dfreq.df)) + 1)::BIGINT AS w
  FROM dtok d JOIN dfreq USING (token), nn
),
wsum AS (SELECT doc_id, sum(w)::BIGINT AS ws FROM tw GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, sum(a.w)::BIGINT AS wi
  FROM upairs p
  JOIN tw a ON a.doc_id = p.id1
  JOIN tw b ON b.doc_id = p.id2 AND b.token = a.token
  GROUP BY p.id1, p.id2
),
wscored AS (
  SELECT p.id1, p.id2,
    CASE WHEN greatest(length(r1.norm), length(r2.norm)) = 0 THEN 1.0
         ELSE 1.0 - levenshtein(r1.norm, r2.norm)
              / greatest(length(r1.norm), length(r2.norm))::DOUBLE END AS f_lev,
    coalesce(i.wi, 0) AS wi,
    coalesce(w1.ws, 0) + coalesce(w2.ws, 0) - coalesce(i.wi, 0) AS wu
  FROM upairs p
  JOIN toks r1 ON r1.doc_id = p.id1
  JOIN toks r2 ON r2.doc_id = p.id2
  LEFT JOIN wsum w1 ON w1.doc_id = p.id1
  LEFT JOIN wsum w2 ON w2.doc_id = p.id2
  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
),
final AS (
  SELECT id1, id2, f_lev,
    CASE WHEN wu <= 0 THEN 1.0 ELSE wi::DOUBLE / wu::DOUBLE END AS f_wjac
  FROM wscored
)
"""

# Shared tail of every detect-F1 oracle: the deterministic gold mentions
# (2-token spans every 7 positions) strong-matched against a `pred` CTE,
# reduced to micro P/R/F1 (one definition, three queries).
_E4_GOLD_PRF1 = """,
            gold AS (
              SELECT s.doc_id, s.char_start AS "offset",
                     (e.char_end - s.char_start + 1) AS length,
                     substr(r.norm, s.char_start, e.char_end - s.char_start + 1) AS ent
              FROM tokt s
              JOIN tokt e ON e.doc_id = s.doc_id AND e.pos = s.pos + 1
              JOIN recs r ON r.doc_id = s.doc_id
              WHERE s.pos % 7 = 1
            ),
            m AS (
              SELECT
                CASE WHEN p.ent IS NOT NULL AND g.ent IS NOT NULL AND p.ent = g.ent
                     THEN 1 ELSE 0 END AS tp,
                CASE WHEN p.ent IS NOT NULL AND (g.ent IS NULL OR p.ent <> g.ent)
                     THEN 1 ELSE 0 END AS fp,
                CASE WHEN g.ent IS NOT NULL AND (p.ent IS NULL OR p.ent <> g.ent)
                     THEN 1 ELSE 0 END AS fn
              FROM pred p FULL OUTER JOIN gold g USING (doc_id, "offset", length)
            ),
            agg AS (
              SELECT sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp, sum(fn)::BIGINT AS fn FROM m
            )
            SELECT tp, fp, fn,
                   floor(tp / greatest(tp + fp, 1)::DOUBLE * 1000000) / 1000000 AS precision,
                   floor(tp / greatest(tp + fn, 1)::DOUBLE * 1000000) / 1000000 AS recall,
                   floor(2.0 * tp / greatest(2 * tp + fp + fn, 1)::DOUBLE * 1000000) / 1000000 AS f1
            FROM agg
        """

# E4 candidate-span table replaying operators.spans: md5 integer logits,
# prefix-sum mention term, explode-over-length + equi-join span generation.
# Integer logits keep every sum associativity-proof across engines.
_E4_SPANS = _BASE + """,
tokpos AS (
  SELECT doc_id, unnest(generate_series(1, len(t)))::INT AS pos, t
  FROM toks WHERE len(t) > 0
),
tok0 AS (SELECT doc_id, pos, t[pos] AS token FROM tokpos),
tok1 AS (
  SELECT doc_id, pos, token,
    sum(length(token)) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_len,
    ('0x' || substr(md5('s:' || doc_id::VARCHAR || ':' || pos::VARCHAR || ':' || token), 1, 6))::BIGINT % 1000
      + (CASE WHEN pos % 7 = 1 THEN 1500 ELSE 0 END) AS start_l,
    ('0x' || substr(md5('e:' || doc_id::VARCHAR || ':' || pos::VARCHAR || ':' || token), 1, 6))::BIGINT % 1000
      + (CASE WHEN pos % 7 = 2 THEN 1500 ELSE 0 END) AS end_l,
    ('0x' || substr(md5('m:' || doc_id::VARCHAR || ':' || pos::VARCHAR || ':' || token), 1, 6))::BIGINT % 1000
      - 500 AS mention_l
  FROM tok0
),
tokt AS (
  SELECT doc_id, pos, token, start_l, end_l, mention_l,
         (cum_len + pos - 1)::INT AS char_end,
         (cum_len + pos - length(token))::INT AS char_start,
         sum(mention_l) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mcum
  FROM tok1
),
spans AS (
  SELECT s.doc_id, s.pos AS start_pos, e.pos AS end_pos,
         (e.pos - s.pos + 1) AS n_tokens,
         s.char_start AS "offset",
         (e.char_end - s.char_start + 1) AS length,
         (s.start_l + e.end_l + (e.mcum - s.mcum + s.mention_l)) AS score
  FROM tokt s
  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS l) L
  JOIN tokt e ON e.doc_id = s.doc_id AND e.pos = s.pos + L.l
)
"""

# Hash-subword word table (functions/subword.py): per-word piece counts +
# the word->subword position mapping as prefix sums.
_SUBWORD = _BASE + """,
wtok AS (
  SELECT doc_id, unnest(generate_series(1, len(t)))::INT AS pos, t
  FROM toks WHERE len(t) > 0
),
w0 AS (SELECT doc_id, pos, t[pos] AS token FROM wtok),
w1 AS (
  SELECT doc_id, pos, token,
         sum(length(token)) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_len,
         ((length(token) + 3) // 4)::INT AS n_pieces
  FROM w0
),
w2 AS (
  SELECT doc_id, pos, token, n_pieces,
         (cum_len + pos - 1)::INT AS char_end,
         (cum_len + pos - length(token))::INT AS char_start,
         (coalesce(sum(n_pieces) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)::INT AS sp_start
  FROM w1
),
w3 AS (SELECT *, (sp_start + n_pieces)::INT AS sp_end FROM w2)
"""

# (lang, source) entity catalogue with hash-subword title tokens
# (operators/catalogue.py): dense index, ordered piece ids, 16-slot cap.
_CATALOGUE = _BASE + """,
cat0 AS (
  SELECT lang || '_' || source AS ent_id, count(*) AS n_docs,
         min(substr(norm, 1, 30)) AS title
  FROM recs GROUP BY lang, source
),
cat AS (
  SELECT ent_id, title, n_docs,
         (row_number() OVER (ORDER BY ent_id) - 1)::BIGINT AS ent_index
  FROM cat0
),
cw AS (
  SELECT ent_id, unnest(generate_series(1, len(ws)))::INT AS wi, ws
  FROM (SELECT ent_id,
               list_filter(string_split(title, ' '), w -> length(w) > 0) AS ws
        FROM cat)
),
cp AS (
  SELECT ent_id, wi, ws[wi] AS w,
         unnest(generate_series(1, (length(ws[wi]) + 3) // 4))::INT AS pj
  FROM cw
),
cids AS (
  SELECT ent_id, wi, pj,
         (('0x' || substr(md5(substr(w, (pj - 1) * 4 + 1, 4)), 1, 6))::BIGINT
            % 49996 + 4) AS tid
  FROM cp
),
clist AS (
  SELECT ent_id, (list(tid ORDER BY wi, pj))[1:16] AS ids
  FROM cids GROUP BY ent_id
),
cat_tokens AS (
  SELECT c.ent_id, c.ent_index, c.n_docs,
         coalesce(l.ids, []::BIGINT[]) AS ids
  FROM cat c LEFT JOIN clist l USING (ent_id)
)
"""

_ANN_RANKED = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
s AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_inner_product(a.emb, b.emb) AS ip
  FROM e a, e b WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, ip,
         row_number() OVER (PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
  FROM s
)
"""


def oracle_sql() -> dict[str, str]:
    en = "('the','and','of','to','in','is','that','with','for','on')"
    langid_values = """
      (VALUES
        ('de', ['der','die','das','und','ist','nicht','ein','mit','für','auf']),
        ('en', ['the','and','of','to','in','is','that','with','for','on']),
        ('es', ['el','la','de','que','y','en','un','es','por','con']),
        ('fr', ['le','la','et','les','des','est','un','une','dans','pour'])
      ) l(lang, words)
    """
    return {
        # --- ER family -----------------------------------------------------
        "er_exact_dedup": """
            SELECT sha256(text) AS content_sha, count(*)::BIGINT AS n_dups,
                   min(doc_id) AS keeper
            FROM documents GROUP BY sha256(text)
        """,
        "er_blocking_prefix": f"WITH {_BASE} "
        + """
            SELECT doc_id, 'pfx:' || array_to_string(t[1:2], ' ') AS key
            FROM toks WHERE length('pfx:' || array_to_string(t[1:2], ' ')) > 4
        """,
        "er_minhash_signatures": f"WITH {_MINHASH} "
        + "SELECT doc_id, seed::BIGINT AS seed, mh FROM mh",
        "er_lsh_band_keys": f"WITH {_KEYS} "
        + "SELECT doc_id, band::BIGINT AS band, band_key FROM bands",
        "er_candidate_pairs": f"WITH {_PAIRS} "
        + "SELECT id1, id2, key FROM cpairs",
        # chained tier (hot=2, mega=3, w=2): keys with 2..3 members pair
        # fully in the plain equi-join; keys above 3 chain — rank by
        # (64-char norm prefix, doc_id), rank r pairs with r+1..r+2. The
        # row_number window here is the single-window reference form of the
        # engine's two-phase range-partitioned rank.
        "er_chained_pairs": f"WITH {_KEYS} "
        + """,
            kcnt AS (SELECT key, count(*) AS n FROM keys GROUP BY key),
            full_k AS (
              SELECT k.doc_id, k.key FROM keys k JOIN kcnt USING (key)
              WHERE n BETWEEN 2 AND 3
            ),
            fpairs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, a.key AS key
              FROM full_k a JOIN full_k b USING (key)
              WHERE a.doc_id < b.doc_id
            ),
            chain_k AS (
              SELECT k.doc_id, k.key, substr(r.norm, 1, 64) AS norm64
              FROM keys k JOIN kcnt USING (key) JOIN recs r USING (doc_id)
              WHERE n > 3
            ),
            ranked AS (
              SELECT doc_id, key, row_number() OVER (
                PARTITION BY key ORDER BY norm64, doc_id) AS cn
              FROM chain_k
            ),
            chpairs AS (
              SELECT least(a.doc_id, b.doc_id) AS id1,
                     greatest(a.doc_id, b.doc_id) AS id2, a.key AS key
              FROM ranked a JOIN ranked b
                ON a.key = b.key AND b.cn BETWEEN a.cn + 1 AND a.cn + 2
            )
            SELECT DISTINCT id1, id2, key FROM (
              SELECT * FROM fpairs UNION ALL SELECT * FROM chpairs
            )
        """,
        "er_key_drops": f"WITH {_BASE}, {_CKEYS} "
        + """,
            g AS (SELECT key, count(*) AS n FROM ckeys GROUP BY key)
            SELECT key, n::BIGINT AS n_ids, (n - 8)::BIGINT AS n_dropped
            FROM g WHERE n > 8
        """,
        # one-window reference form of the engine's two-phase (salt-bucketed)
        # cap: the kept set is the global lowest-3 per key either way
        "er_capped_keys": f"WITH {_BASE}, {_CKEYS} "
        + """,
            rk AS (
              SELECT doc_id, key, row_number() OVER (
                PARTITION BY key ORDER BY doc_id) AS rn
              FROM ckeys
            )
            SELECT doc_id, key FROM rk WHERE rn <= 3
        """,
        "er_scored_pairs": f"WITH {_SCORED} "
        + """
            SELECT id1, id2,
                   floor(f_lev * 1000000) / 1000000 AS f_lev,
                   floor(f_jac * 1000000) / 1000000 AS f_jac,
                   floor(score * 1000000) / 1000000 AS score
            FROM scored2
        """,
        # anchored-log2 integer IDF weights (operators/idf.py): all-integer
        # arithmetic (bin-string lengths over exact counts), so weights,
        # weight sums and the weighted-jaccard ratio replay bit-identically
        "er_idf_weights": f"WITH {_BASE} "
        + """,
            dtok AS (SELECT doc_id, unnest(list_distinct(t)) AS token FROM toks),
            nn AS (SELECT count(*) AS n FROM toks),
            dfreq AS (SELECT token, count(*) AS df FROM dtok GROUP BY token)
            SELECT token, df::BIGINT AS df,
                   greatest(1, length(bin(nn.n)) - length(bin(df)) + 1)::BIGINT AS w
            FROM dfreq, nn
            ORDER BY df DESC, token ASC LIMIT 50
        """,
        "er_idf_scored_pairs": f"WITH {_IDF_SCORED} "
        + """
            SELECT id1, id2,
                   floor(f_lev * 1000000) / 1000000 AS f_lev,
                   floor(f_wjac * 1000000) / 1000000 AS f_wjac,
                   floor((0.2 * f_lev + 0.5 * f_wjac) / 0.7 * 1000000) / 1000000 AS score
            FROM final
        """,
        # the FULL at-scale pipeline: weighted scoring -> floored-score
        # threshold 0.52 -> recursive transitive closure -> assignment (the
        # same CC recursion er_clusters pins, over the weighted edge set)
        "er_idf_clusters": f"WITH RECURSIVE {_IDF_SCORED} "
        + """,
            edges AS (
              SELECT id1, id2 FROM final
              WHERE floor((0.2 * f_lev + 0.5 * f_wjac) / 0.7 * 1000000) / 1000000 >= 0.52
            ),
            sym AS (SELECT id1 AS u, id2 AS v FROM edges UNION SELECT id2, id1 FROM edges),
            cc(id, comp) AS (
              SELECT u, u FROM sym
              UNION
              SELECT s.v, c.comp FROM cc c JOIN sym s ON s.u = c.id WHERE c.comp < s.v
            ),
            comp AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
            clusters AS (
              SELECT d.doc_id, coalesce(c.comp, d.doc_id)::BIGINT AS cluster_id
              FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
            )
            SELECT doc_id, cluster_id FROM clusters
        """,
        "er_edges": f"WITH {_SCORED} "
        + "SELECT id1, id2 FROM scored2 WHERE score >= 0.60",
        "er_clusters": f"WITH RECURSIVE {_CLUSTERS} "
        + "SELECT doc_id, cluster_id FROM clusters",
        # streaming_incremental_clusters MUST equal the one-shot batch answer
        # (incremental CC is an execution strategy, not a semantic): same twin.
        "streaming_incremental_clusters": f"WITH RECURSIVE {_CLUSTERS} "
        + "SELECT doc_id, cluster_id FROM clusters",
        "er_flagship_clusters": f"WITH RECURSIVE {_CLUSTERS} "
        + """
            SELECT c.cluster_id,
                   count(*)::BIGINT AS n_files,
                   count(DISTINCT d.source)::BIGINT AS n_sources,
                   count(DISTINCT d.lang)::BIGINT AS n_langs,
                   min(d.doc_id) AS example_doc
            FROM clusters c JOIN documents d USING (doc_id)
            GROUP BY c.cluster_id
            ORDER BY n_files DESC, c.cluster_id ASC
            LIMIT 10
        """,
        "er_threshold_grid": f"WITH {_SCORED} "
        + """
            SELECT t.threshold::DOUBLE AS threshold, count(*)::BIGINT AS n_edges
            FROM scored2, (VALUES (0.5), (0.6), (0.7), (0.8)) t(threshold)
            WHERE score >= t.threshold
            GROUP BY t.threshold
        """,
        "er_threshold_best": f"WITH {_SCORED} "
        + """,
            ents AS (SELECT doc_id, lang || '_' || source AS ent FROM documents),
            labeled AS (
              SELECT s.f_lev, s.f_jac,
                     CASE WHEN e1.ent = e2.ent THEN 1 ELSE 0 END AS label
              FROM scored2 s
              JOIN ents e1 ON e1.doc_id = s.id1
              JOIN ents e2 ON e2.doc_id = s.id2
            ),
            cells AS (
              SELECT t1.t::DOUBLE AS t_lev, t2.t::DOUBLE AS t_jac,
                sum(CASE WHEN f_lev >= t1.t AND f_jac >= t2.t AND label = 1
                    THEN 1 ELSE 0 END) AS tp,
                sum(CASE WHEN f_lev >= t1.t AND f_jac >= t2.t AND label = 0
                    THEN 1 ELSE 0 END) AS fp,
                sum(CASE WHEN NOT (f_lev >= t1.t AND f_jac >= t2.t) AND label = 1
                    THEN 1 ELSE 0 END) AS fn
              FROM labeled,
                   (VALUES (0.0), (0.2), (0.4)) t1(t),
                   (VALUES (0.0), (0.2), (0.4)) t2(t)
              GROUP BY t1.t, t2.t
            ),
            scoredcells AS (
              SELECT *, CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                        ELSE 2.0 * tp / (2 * tp + fp + fn) END AS f1
              FROM cells
            )
            SELECT t_lev, t_jac, tp::BIGINT AS tp, fp::BIGINT AS fp,
                   fn::BIGINT AS fn, floor(f1 * 1000000) / 1000000 AS f1
            FROM scoredcells
            ORDER BY f1 DESC, t_lev ASC, t_jac ASC LIMIT 1
        """,
        "er_threshold_grid_2d": f"WITH {_SCORED} "
        + """
            SELECT t1.t::DOUBLE AS t_lev, t2.t::DOUBLE AS t_jac,
                   count(*)::BIGINT AS n_edges
            FROM scored2,
                 (VALUES (0.0), (0.2), (0.4)) t1(t),
                 (VALUES (0.0), (0.2), (0.4)) t2(t)
            WHERE f_lev >= t1.t AND f_jac >= t2.t
            GROUP BY t1.t, t2.t
        """,
        # --- dedup extensions ----------------------------------------------
        "dedup_simhash": f"WITH {_BASE}, {_SIMHASH_FP} "
        + """
            SELECT d.doc_id, coalesce(fp.simhash, 0)::BIGINT AS simhash
            FROM documents d LEFT JOIN fp USING (doc_id)
        """,
        "dedup_simhash_pairs": f"WITH {_BASE}, {_SIMHASH_FP} "
        + """,
            fpd AS (
              SELECT d.doc_id, coalesce(fp.simhash, 0)::BIGINT AS simhash
              FROM documents d LEFT JOIN fp USING (doc_id)
            ),
            bdef(i, s, m) AS ({simhash_block_values}),
            halves AS (
              SELECT doc_id, simhash,
                     'b' || i::VARCHAR || ':' || ((simhash >> s) & m)::VARCHAR AS hkey
              FROM fpd, bdef
            ),
            capped AS (
              SELECT doc_id, simhash, hkey FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY hkey ORDER BY doc_id) AS rn
                FROM halves) WHERE rn <= {block_cap}
            )
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
            FROM capped a JOIN capped b USING (hkey)
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        """.format(
            simhash_block_values=_simhash_block_values(SIMHASH_BITS, SIMHASH_MAX_HAMMING),
            block_cap=SIMHASH_BLOCK_CAP,
            max_hamming=SIMHASH_MAX_HAMMING,
        ),
        "dedup_simhash_drops": f"WITH {_BASE}, {_SIMHASH_FP} "
        + """,
            fpd AS (
              SELECT d.doc_id, coalesce(fp.simhash, 0)::BIGINT AS simhash
              FROM documents d LEFT JOIN fp USING (doc_id)
            ),
            bdef(i, s, m) AS ({simhash_block_values}),
            halves AS (
              SELECT doc_id,
                     'b' || i::VARCHAR || ':' || ((simhash >> s) & m)::VARCHAR AS hkey
              FROM fpd, bdef
            ),
            g AS (SELECT hkey, count(*) AS n FROM halves GROUP BY hkey),
            caps(cap) AS (VALUES ({served_cap}), ({audit_cap}))
            SELECT caps.cap::BIGINT AS cap, g.hkey AS key, g.n::BIGINT AS n_ids,
                   (g.n - caps.cap)::BIGINT AS n_dropped
            FROM g, caps WHERE g.n > caps.cap
        """.format(
            simhash_block_values=_simhash_block_values(SIMHASH_BITS, SIMHASH_MAX_HAMMING),
            served_cap=SIMHASH_BLOCK_CAP,
            audit_cap=SIMHASH_DROPS_CAP,
        ),
        "dedup_ngram_jaccard": f"WITH {_PAIRS} "
        + """,
            dsh AS (
              SELECT doc_id, list_distinct(list(shingle)) AS sh
              FROM dshingles GROUP BY doc_id
            ),
            jac AS (
              SELECT p.id1, p.id2,
                CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 1.0
                     ELSE len(list_intersect(a.sh, b.sh))
                          / len(list_distinct(a.sh || b.sh))::DOUBLE END AS jaccard
              FROM upairs p JOIN dsh a ON a.doc_id = p.id1 JOIN dsh b ON b.doc_id = p.id2
            )
            SELECT id1, id2, floor(jaccard * 1000000) / 1000000 AS jaccard
            FROM jac WHERE jaccard >= 0.40
        """,
        "dedup_embedding_neardup": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_lsh_keys_sql(**NEARDUP_LSH)},
            pairs AS (
              SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
              FROM bkeys a JOIN bkeys b USING (key)
              WHERE a.vec_id < b.vec_id
            ),
            s AS (
              SELECT p.id1, p.id2,
                     list_inner_product(ea.emb, eb.emb)
                     / (sqrt(list_inner_product(ea.emb, ea.emb))
                        * sqrt(list_inner_product(eb.emb, eb.emb))) AS cosine
              FROM pairs p
              JOIN e ea ON ea.vec_id = p.id1
              JOIN e eb ON eb.vec_id = p.id2
            )
            SELECT id1, id2, floor(cosine * 1000000) / 1000000 AS cosine
            FROM s WHERE cosine >= 0.5
        """,
        # --- ANN family ------------------------------------------------------
        "ann_topk": f"WITH {_ANN_RANKED} "
        + """
            SELECT vec_id, neighbor_id,
                   floor(ip * 1000000) / 1000000 AS ip_score, rank::BIGINT AS rank
            FROM ranked WHERE rank <= 5
        """,
        "ann_lsh_topk": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_lsh_keys_sql(**ANN_LSH)},
            cand AS (
              -- query side bkeys0 (uncapped), index side bkeys (capped):
              -- the cap bounds who is OFFERED as a neighbor, never a
              -- vector's own candidate generation (ivf_topk parity)
              SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
              FROM bkeys0 a JOIN bkeys b USING (key)
              WHERE a.vec_id <> b.vec_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            lranked AS (
              SELECT vec_id, neighbor_id, ip, row_number() OVER (
                PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
              FROM sc
            )
            SELECT vec_id, neighbor_id,
                   floor(ip * 1000000) / 1000000 AS ip_score, rank::BIGINT AS rank
            FROM lranked WHERE rank <= 5
        """,
        "ann_lsh_recall": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_lsh_keys_sql(**ANN_LSH)},
            cand AS (
              -- query side bkeys0 (uncapped), index side bkeys (capped):
              -- the cap bounds who is OFFERED as a neighbor, never a
              -- vector's own candidate generation (ivf_topk parity)
              SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
              FROM bkeys0 a JOIN bkeys b USING (key)
              WHERE a.vec_id <> b.vec_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            approx AS (
              SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                FROM sc) WHERE rank <= 5
            ),
            xs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     list_inner_product(a.emb, b.emb) AS ip
              FROM e a, e b WHERE a.vec_id <> b.vec_id
            ),
            exact AS (
              SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                FROM xs) WHERE rank <= 5
            ),
            j AS (
              SELECT x.vec_id, x.neighbor_id,
                     CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
              FROM exact x LEFT JOIN approx a
                ON a.vec_id = x.vec_id AND a.neighbor_id = x.neighbor_id
            )
            SELECT count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_hit,
                   floor(sum(hit) / count(*)::DOUBLE * 1000000) / 1000000 AS recall
            FROM j
        """,
        "ann_lsh_bucket_drops": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_lsh_keys_sql(**dict(ANN_LSH, bucket_cap=10**9))},
            g AS (SELECT key, count(*) AS n FROM bkeys GROUP BY key),
            caps(cap) AS (VALUES ({ANN_LSH["bucket_cap"]}), ({LSH_DROPS_CAP}))
            SELECT caps.cap::BIGINT AS cap, g.key AS key, g.n::BIGINT AS n_ids,
                   (g.n - caps.cap)::BIGINT AS n_dropped
            FROM g, caps WHERE g.n > caps.cap
        """,
        "ann_ivf_topk": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_ivf_cells_sql(**ANN_IVF)},
            cand AS (
              SELECT DISTINCT p.qvec_id AS vec_id, c.neighbor_id
              FROM probe_cells p JOIN cat_cells c USING (cell)
              WHERE p.qvec_id <> c.neighbor_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            iranked AS (
              SELECT vec_id, neighbor_id, ip, row_number() OVER (
                PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
              FROM sc
            )
            SELECT vec_id, neighbor_id,
                   floor(ip * 1000000) / 1000000 AS ip_score, rank::BIGINT AS rank
            FROM iranked WHERE rank <= 5
        """,
        "ann_ivf_disambiguation_acc": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_ivf_cells_sql(**ANN_IVF)},
            cand AS (
              SELECT DISTINCT p.qvec_id AS vec_id, c.neighbor_id
              FROM probe_cells p JOIN cat_cells c USING (cell)
              WHERE p.qvec_id <> c.neighbor_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            top1 AS (
              SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                FROM sc) WHERE rank = 1
            ),
            hits AS (
              SELECT CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END AS hit
              FROM top1 t
              JOIN embeddings lq ON lq.vec_id = t.vec_id
              JOIN embeddings ln ON ln.vec_id = t.neighbor_id
            )
            SELECT floor(avg(hit) * 1000000) / 1000000 AS accuracy,
                   count(*)::BIGINT AS n_queries
            FROM hits
        """,
        "ann_ivf_mrr": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_ivf_cells_sql(**ANN_IVF)},
            cand AS (
              SELECT DISTINCT p.qvec_id AS vec_id, c.neighbor_id
              FROM probe_cells p JOIN cat_cells c USING (cell)
              WHERE p.qvec_id <> c.neighbor_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            iranked AS (
              SELECT vec_id, neighbor_id, row_number() OVER (
                PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
              FROM sc
            ),
            firsts AS (
              SELECT r.vec_id, min(r.rank) AS first_rank
              FROM iranked r
              JOIN embeddings la ON la.vec_id = r.vec_id
              JOIN embeddings lb ON lb.vec_id = r.neighbor_id
              WHERE r.rank <= 10 AND la.label = lb.label
              GROUP BY r.vec_id
            )
            SELECT floor(avg(1.0 / first_rank) * 1000000) / 1000000 AS mrr,
                   floor(avg(first_rank::DOUBLE) * 1000000) / 1000000 AS mean_rank,
                   count(*)::BIGINT AS n_queries
            FROM firsts
        """,
        "ann_ivf_recall": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            {_ivf_cells_sql(**ANN_IVF)},
            cand AS (
              SELECT DISTINCT p.qvec_id AS vec_id, c.neighbor_id
              FROM probe_cells p JOIN cat_cells c USING (cell)
              WHERE p.qvec_id <> c.neighbor_id
            ),
            sc AS (
              SELECT c.vec_id, c.neighbor_id,
                     list_inner_product(ea.emb, eb.emb) AS ip
              FROM cand c
              JOIN e ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id
            ),
            approx AS (
              SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                FROM sc) WHERE rank <= 5
            ),
            xs AS (
              SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     list_inner_product(a.emb, b.emb) AS ip
              FROM e a, e b WHERE a.vec_id <> b.vec_id
            ),
            exact AS (
              SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY ip DESC, neighbor_id ASC) AS rank
                FROM xs) WHERE rank <= 5
            ),
            j AS (
              SELECT x.vec_id, x.neighbor_id,
                     CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
              FROM exact x LEFT JOIN approx a
                ON a.vec_id = x.vec_id AND a.neighbor_id = x.neighbor_id
            )
            SELECT count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_hit,
                   floor(sum(hit) / count(*)::DOUBLE * 1000000) / 1000000 AS recall
            FROM j
        """,
        "ann_recall_at_k": f"WITH {_ANN_RANKED} "
        + """,
            hits AS (
              SELECT r.vec_id,
                     max(CASE WHEN r.rank <= 1 AND la.label = lb.label THEN 1 ELSE 0 END) AS h1,
                     max(CASE WHEN r.rank <= 10 AND la.label = lb.label THEN 1 ELSE 0 END) AS h10,
                     max(CASE WHEN r.rank <= 100 AND la.label = lb.label THEN 1 ELSE 0 END) AS h100
              FROM ranked r
              JOIN e la ON la.vec_id = r.vec_id
              JOIN e lb ON lb.vec_id = r.neighbor_id
              WHERE r.rank <= 100
              GROUP BY r.vec_id
            )
            SELECT floor(avg(h1) * 1000000) / 1000000 AS recall_at_1,
                   floor(avg(h10) * 1000000) / 1000000 AS recall_at_10,
                   floor(avg(h100) * 1000000) / 1000000 AS recall_at_100,
                   count(*)::BIGINT AS n_queries
            FROM hits
        """,
        "ann_mrr": f"WITH {_ANN_RANKED} "
        + """,
            firsts AS (
              SELECT r.vec_id, min(r.rank) AS first_rank
              FROM ranked r
              JOIN e la ON la.vec_id = r.vec_id
              JOIN e lb ON lb.vec_id = r.neighbor_id
              WHERE r.rank <= 10 AND la.label = lb.label
              GROUP BY r.vec_id
            )
            SELECT floor(avg(1.0 / first_rank) * 1000000) / 1000000 AS mrr,
                   floor(avg(first_rank::DOUBLE) * 1000000) / 1000000 AS mean_rank,
                   count(*)::BIGINT AS n_queries
            FROM firsts
        """,
        "ann_disambiguation_acc": f"WITH {_ANN_RANKED} "
        + """
            SELECT floor(avg(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) * 1000000)
                     / 1000000 AS accuracy,
                   count(*)::BIGINT AS n_queries
            FROM ranked r
            JOIN e la ON la.vec_id = r.vec_id
            JOIN e lb ON lb.vec_id = r.neighbor_id
            WHERE r.rank = 1
        """,
        "catalogue_multilang": """
            WITH counts AS (
              SELECT lang, source, count(*)::BIGINT AS n
              FROM documents GROUP BY lang, source
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY n DESC, source ASC) AS rn
              FROM counts
            )
            SELECT lang, source AS top_source, n AS n_docs FROM r WHERE rn = 1
        """,
        "events_hourly_windows": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*)::BIGINT AS n_events,
                   floor(sum(value) * 1000000) / 1000000 AS total_value
            FROM events GROUP BY date_trunc('hour', ts), event_type
        """,
        "events_type_stats": """
            SELECT event_type, count(*)::BIGINT AS n_events,
                   floor(avg(value) * 1000000) / 1000000 AS avg_value,
                   min(user_id) AS min_user, max(user_id) AS max_user
            FROM events GROUP BY event_type
        """,
        # --- EL surface ------------------------------------------------------
        "el_windows": """
            WITH starts AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text), 1), 50)) AS s
              FROM documents
            )
            SELECT doc_id, s::BIGINT AS win_start, substr(text, s::INT, 100) AS win_text
            FROM starts
        """,
        "el_interval_merge": """
            WITH offs AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(length(text) - 5, 1), 3)) AS o
              FROM documents
            ),
            spans AS (
              SELECT doc_id, o AS "offset", 3 + (o % 4) AS length,
                     ((doc_id * 7 + o) % 100) / 100.0 AS score
              FROM offs
            ),
            w1 AS (
              SELECT *, lag("offset" + length) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC) AS prev_end
              FROM spans
            ),
            w2 AS (
              SELECT *, CASE WHEN prev_end IS NULL OR "offset" >= prev_end
                             THEN 1 ELSE 0 END AS is_new FROM w1
            ),
            w3 AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
              FROM w2
            ),
            w4 AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id, session
                ORDER BY score DESC, "offset" ASC, length ASC) AS rn
              FROM w3
            )
            SELECT doc_id, "offset"::BIGINT AS offset, length::BIGINT AS length,
                   floor(score * 1000000) / 1000000 AS score
            FROM w4 WHERE rn = 1
        """,
        "el_span_f1": """
            WITH gold0 AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 5, 1), 11)) AS o
              FROM documents
            ),
            gold AS (
              SELECT doc_id, o AS "offset", 5 AS length, substr(text, o::INT, 5) AS ent
              FROM gold0
            ),
            pred0 AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 5, 1), 13)) AS o
              FROM documents
            ),
            pred AS (
              SELECT doc_id, o AS "offset", 5 AS length, substr(text, o::INT, 5) AS ent
              FROM pred0
            ),
            m AS (
              SELECT
                CASE WHEN p.ent IS NOT NULL AND g.ent IS NOT NULL AND p.ent = g.ent
                     THEN 1 ELSE 0 END AS tp,
                CASE WHEN p.ent IS NOT NULL AND (g.ent IS NULL OR p.ent <> g.ent)
                     THEN 1 ELSE 0 END AS fp,
                CASE WHEN g.ent IS NOT NULL AND (p.ent IS NULL OR p.ent <> g.ent)
                     THEN 1 ELSE 0 END AS fn
              FROM pred p FULL OUTER JOIN gold g
                USING (doc_id, "offset", length)
            ),
            agg AS (
              SELECT sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp, sum(fn)::BIGINT AS fn FROM m
            )
            SELECT tp, fp, fn,
                   floor(tp / greatest(tp + fp, 1)::DOUBLE * 1000000) / 1000000 AS precision,
                   floor(tp / greatest(tp + fn, 1)::DOUBLE * 1000000) / 1000000 AS recall,
                   floor(2.0 * tp / greatest(2 * tp + fp + fn, 1)::DOUBLE * 1000000) / 1000000 AS f1
            FROM agg
        """,
        "el_boe_f1": f"WITH {_BASE} "
        + """,
            gold AS (SELECT DISTINCT doc_id, unnest(t) AS ent FROM toks),
            predn AS (
              SELECT doc_id,
                trim(regexp_replace(lower(substr(text, 1, floor(length(text) / 2)::INT)),
                                    '[^a-z0-9]+', ' ', 'g')) AS pn
              FROM documents
            ),
            pred AS (
              SELECT DISTINCT doc_id, unnest(
                CASE WHEN pn = '' THEN []::VARCHAR[] ELSE string_split(pn, ' ') END) AS ent
              FROM predn
            ),
            m AS (
              SELECT
                CASE WHEN p.ent IS NOT NULL AND g.ent IS NOT NULL THEN 1 ELSE 0 END AS tp,
                CASE WHEN p.ent IS NOT NULL AND g.ent IS NULL THEN 1 ELSE 0 END AS fp,
                CASE WHEN p.ent IS NULL AND g.ent IS NOT NULL THEN 1 ELSE 0 END AS fn
              FROM (SELECT doc_id, ent, 1 AS x FROM pred) p
              FULL OUTER JOIN (SELECT doc_id, ent, 1 AS y FROM gold) g
                USING (doc_id, ent)
            ),
            agg AS (
              SELECT sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp, sum(fn)::BIGINT AS fn FROM m
            )
            SELECT tp, fp, fn,
                   floor(tp / greatest(tp + fp, 1)::DOUBLE * 1000000) / 1000000 AS precision,
                   floor(tp / greatest(tp + fn, 1)::DOUBLE * 1000000) / 1000000 AS recall,
                   floor(2.0 * tp / greatest(2 * tp + fp + fn, 1)::DOUBLE * 1000000) / 1000000 AS f1
            FROM agg
        """,
        "el_candidate_spans": f"WITH {_E4_SPANS} "
        + """,
            r AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, "offset" ASC, length ASC) AS rank
              FROM spans
            )
            SELECT doc_id, start_pos::BIGINT AS start_pos, end_pos::BIGINT AS end_pos,
                   n_tokens::BIGINT AS n_tokens, "offset"::BIGINT AS offset,
                   length::BIGINT AS length, score::BIGINT AS score,
                   rank::BIGINT AS rank
            FROM r WHERE rank <= 5
        """,
        "el_detect_f1": f"WITH {_E4_SPANS} "
        + """,
            pruned AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, "offset" ASC, length ASC) AS rank
                FROM spans) WHERE rank <= 20
            ),
            w1 AS (
              SELECT *, lag("offset" + length) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC) AS prev_end
              FROM pruned
            ),
            w2 AS (
              SELECT *, CASE WHEN prev_end IS NULL OR "offset" >= prev_end
                             THEN 1 ELSE 0 END AS is_new FROM w1
            ),
            w3 AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
              FROM w2
            ),
            w4 AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id, session
                ORDER BY score DESC, "offset" ASC, length ASC) AS rn
              FROM w3
            ),
            pred AS (
              SELECT p.doc_id, p."offset", p.length,
                     substr(r.norm, p."offset", p.length) AS ent
              FROM w4 p JOIN recs r USING (doc_id) WHERE p.rn = 1
            )"""
        + _E4_GOLD_PRF1,
        "el_span_encodings": f"WITH {_E4_SPANS} "
        + """,
            top5 AS (
              SELECT doc_id, start_pos, end_pos FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, "offset" ASC, length ASC) AS rank
                FROM spans) WHERE rank <= 5
            ),
            bs AS (
              SELECT doc_id, pos,
                     ('0x' || substr(md5('42:' || token), 15, 2))::BIGINT % 64 AS b,
                     CASE WHEN ('0x' || substr(md5('42:' || token), 8, 1))::BIGINT % 2 = 1
                          THEN 1 ELSE -1 END AS s
              FROM tokt
            ),
            wvals(j, b, v) AS ({proj_weights}),
            pe AS (
              SELECT t.doc_id, t.start_pos, t.end_pos, g.j,
                     (b1.s * w1.v + b2.s * w2.v) AS pv
              FROM top5 t
              JOIN bs b1 ON b1.doc_id = t.doc_id AND b1.pos = t.start_pos
              JOIN bs b2 ON b2.doc_id = t.doc_id AND b2.pos = t.end_pos
              CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) g
              JOIN wvals w1 ON w1.j = g.j AND w1.b = b1.b
              JOIN wvals w2 ON w2.j = g.j AND w2.b = b2.b + 64
            )
            SELECT doc_id, start_pos::BIGINT AS start_pos, end_pos::BIGINT AS end_pos,
                   sum(abs(pv))::BIGINT AS proj_l1,
                   md5(string_agg(pv::VARCHAR, ',' ORDER BY j)) AS proj_md5
            FROM pe GROUP BY doc_id, start_pos, end_pos
        """.format(proj_weights=_proj_weight_values()),
        "el_mention_context": f"WITH {_SUBWORD} "
        + """,
            dp AS (
              SELECT doc_id, pos, unnest(generate_series(1, n_pieces))::INT AS pj, token
              FROM w3
            ),
            docids AS (
              SELECT doc_id,
                     list((('0x' || substr(md5(substr(token, (pj - 1) * 4 + 1, 4)), 1, 6))::BIGINT
                           % 49996 + 4) ORDER BY pos, pj) AS ids
              FROM dp GROUP BY doc_id
            ),
            men AS (
              SELECT s.doc_id, s.pos AS word_pos, s.sp_start, e.sp_end
              FROM w3 s JOIN w3 e ON e.doc_id = s.doc_id AND e.pos = s.pos + 1
              WHERE s.pos % 5 = 1
            ),
            parts AS (
              SELECT m.doc_id, m.word_pos,
                     d.ids[1 : m.sp_start - 1] AS lft,
                     d.ids[m.sp_start : m.sp_end - 1] AS men0,
                     d.ids[m.sp_end : len(d.ids)] AS rgt
              FROM men m JOIN docids d USING (doc_id)
            ),
            pm AS (
              SELECT doc_id, word_pos, lft, rgt,
                     ([1]::BIGINT[] ||
                      (CASE WHEN len(men0) > 12 THEN men0[1:12] ELSE men0 END)
                      || [3]::BIGINT[]) AS m
              FROM parts
            ),
            q0 AS (
              SELECT *, ((16 - len(m)) // 2 - 1)::INT AS lq0,
                     (16 - len(m) - ((16 - len(m)) // 2 - 1) - 2)::INT AS rq0,
                     len(lft)::INT AS ladd, len(rgt)::INT AS radd
              FROM pm
            ),
            q1 AS (
              SELECT *,
                CASE WHEN ladd <= lq0 AND radd > rq0 THEN rq0 + lq0 - ladd ELSE rq0 END AS rq,
                CASE WHEN ladd > lq0 AND radd <= rq0 THEN lq0 + rq0 - radd ELSE lq0 END AS lq
              FROM q0
            ),
            asm AS (
              SELECT doc_id, word_pos,
                     ([0]::BIGINT[]
                      || lft[greatest(ladd - lq + 1, 1) : ladd]
                      || m
                      || rgt[1 : least(rq, radd)]
                      || [2]::BIGINT[]) AS ctx
              FROM q1
            )
            SELECT doc_id, word_pos::BIGINT AS word_pos,
                   len(ctx)::BIGINT AS n_context,
                   md5(array_to_string(ctx, ',')) AS ctx_md5
            FROM asm
        """,
        "er_exact_remap": """
            WITH k AS (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
              FROM documents
            )
            SELECT doc_id, keeper,
                   (CASE WHEN doc_id = keeper THEN 1 ELSE 0 END)::BIGINT AS is_rep
            FROM k
        """,
        "er_cluster_metrics": f"WITH RECURSIVE {_CLUSTERS} "
        + """,
            sizes AS (
              SELECT cluster_id, count(*) AS cluster_size
              FROM clusters GROUP BY cluster_id
            )
            SELECT cluster_size::BIGINT AS cluster_size,
                   count(*)::BIGINT AS n_clusters
            FROM sizes GROUP BY cluster_size
        """,
        "catalogue_type_filter": f"WITH {_CATALOGUE} "
        + """
            SELECT ent_id, ent_index, n_docs::BIGINT AS n_docs
            FROM cat WHERE substr(ent_id, 1, 3) IN ('en_', 'de_')
        """,
        "el_windowed_detect_f1": f"WITH {_E4_SPANS} "
        + """,
            winspans AS (
              SELECT *, unnest(generate_series(
                       greatest(ceil((end_pos - 24) / 12.0), 0)::INT,
                       floor((start_pos - 1) / 12.0)::INT)) AS win
              FROM spans
            ),
            prunedw AS (
              SELECT DISTINCT doc_id, "offset", length, score FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id, win
                  ORDER BY score DESC, "offset" ASC, length ASC) AS rk
                FROM winspans) WHERE rk <= 5
            ),
            w1 AS (
              SELECT *, lag("offset" + length) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC) AS prev_end
              FROM prunedw
            ),
            w2 AS (
              SELECT *, CASE WHEN prev_end IS NULL OR "offset" >= prev_end
                             THEN 1 ELSE 0 END AS is_new FROM w1
            ),
            w3 AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
              FROM w2
            ),
            w4 AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id, session
                ORDER BY score DESC, "offset" ASC, length ASC) AS rn
              FROM w3
            ),
            pred AS (
              SELECT p.doc_id, p."offset", p.length,
                     substr(r.norm, p."offset", p.length) AS ent
              FROM w4 p JOIN recs r USING (doc_id) WHERE p.rn = 1
            )"""
        + _E4_GOLD_PRF1,
        "el_detect_thresholded_f1": f"WITH {_E4_SPANS} "
        + """,
            gated AS (
              SELECT * FROM spans WHERE score >= 2500
            ),
            w1 AS (
              SELECT *, lag("offset" + length) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC) AS prev_end
              FROM gated
            ),
            w2 AS (
              SELECT *, CASE WHEN prev_end IS NULL OR "offset" >= prev_end
                             THEN 1 ELSE 0 END AS is_new FROM w1
            ),
            w3 AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY doc_id ORDER BY "offset" ASC, length ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
              FROM w2
            ),
            w4 AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id, session
                ORDER BY score DESC, "offset" ASC, length ASC) AS rn
              FROM w3
            ),
            merged AS (
              SELECT * FROM w4 WHERE rn = 1
                AND ('0x' || substr(md5('el:' || doc_id::VARCHAR || ':'
                       || start_pos::VARCHAR || ':' || end_pos::VARCHAR), 1, 6))::BIGINT
                    % 1000 >= 500
            ),
            pred AS (
              SELECT p.doc_id, p."offset", p.length,
                     substr(r.norm, p."offset", p.length) AS ent
              FROM merged p JOIN recs r USING (doc_id)
            )"""
        + _E4_GOLD_PRF1,
        "el_context_windows": """
            SELECT doc_id,
                   substr(text, greatest((doc_id % 20 + 1) - 20, 1)::INT,
                          ((doc_id % 20 + 1) - greatest((doc_id % 20 + 1) - 20, 1))::INT)
                     AS context_left,
                   substr(text, (doc_id % 20 + 1)::INT, 5) AS mention,
                   substr(text, (doc_id % 20 + 1 + 5)::INT, 20) AS context_right
            FROM documents
        """,
        "el_topk_spans": """
            WITH offs AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(length(text) - 5, 1), 3)) AS o
              FROM documents
            ),
            spans AS (
              SELECT doc_id, o AS "offset", 3 + (o % 4) AS length,
                     ((doc_id * 7 + o) % 100) / 100.0 AS score
              FROM offs
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, "offset" ASC) AS rank
              FROM spans
            )
            SELECT doc_id, "offset"::BIGINT AS offset, length::BIGINT AS length,
                   floor(score * 1000000) / 1000000 AS score, rank::BIGINT AS rank
            FROM r WHERE rank <= 3 AND (score > 0.5 OR rank = 1)
        """,
        "el_window_regroup": """
            WITH starts AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text), 1), 50)) AS s
              FROM documents
            ),
            wins AS (
              SELECT doc_id, s, substr(text, s::INT, 100) AS win_text FROM starts
            )
            SELECT doc_id, count(*)::BIGINT AS n_windows,
                   md5(string_agg(win_text, '|' ORDER BY s)) AS windows_md5
            FROM wins GROUP BY doc_id
        """,
        # --- text analysis ---------------------------------------------------
        "text_token_stats": f"WITH {_BASE} "
        + """
            SELECT d.doc_id,
                   length(d.text)::BIGINT AS n_chars,
                   len(t.t)::BIGINT AS n_tokens,
                   len(list_distinct(t.t))::BIGINT AS n_distinct_tokens,
                   CASE WHEN len(t.t) = 0 THEN 0.0
                        ELSE floor(length(t.norm) / len(t.t)::DOUBLE * 1000000) / 1000000
                   END AS avg_token_len
            FROM documents d JOIN toks t USING (doc_id)
        """,
        "text_quality": f"WITH {_BASE} "
        + f"""
            SELECT d.doc_id,
              CASE WHEN len(t.t) = 0 THEN 0.0
                   ELSE floor(len(list_distinct(t.t)) / len(t.t)::DOUBLE * 1000000) / 1000000
              END AS distinct_ratio,
              CASE WHEN len(t.t) = 0 THEN 0.0
                   ELSE floor(len(list_filter(t.t, x -> x IN {en}))
                              / len(t.t)::DOUBLE * 1000000) / 1000000
              END AS stopword_ratio,
              CASE WHEN length(d.text) = 0 THEN 0.0
                   ELSE floor(length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g'))
                              / length(d.text)::DOUBLE * 1000000) / 1000000
              END AS alnum_ratio
            FROM documents d JOIN toks t USING (doc_id)
        """,
        "text_langid": f"WITH {_BASE} "
        + f""",
            votes AS (
              SELECT t.doc_id, l.lang,
                     len(list_filter(t.t, x -> list_contains(l.words, x))) AS votes
              FROM toks t, {langid_values}
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY votes DESC, lang ASC) AS rn
              FROM votes
            )
            SELECT doc_id, lang AS pred_lang, votes::BIGINT AS votes FROM r WHERE rn = 1
        """,
        "text_fingerprint": f"WITH {_BASE} "
        + """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
            FROM toks
        """,
        "text_topk_tokens": f"WITH {_BASE} "
        + """,
            counts AS (
              SELECT doc_id, tok AS token, count(*)::BIGINT AS n
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY n DESC, token ASC) AS rank
              FROM counts
            )
            SELECT doc_id, token, n, rank::BIGINT AS rank FROM r WHERE rank <= 3
        """,
        "text_subword_tokens": f"WITH {_SUBWORD} "
        + """,
            p0 AS (
              SELECT doc_id, pos, token, char_start, char_end, sp_start,
                     unnest(generate_series(0, n_pieces - 1))::INT AS j
              FROM w3
            ),
            p1 AS (
              SELECT doc_id, (sp_start + j) AS sp_pos,
                     (('0x' || substr(md5(substr(token, j * 4 + 1, 4)), 1, 6))::BIGINT
                        % 49996 + 4) AS token_id,
                     CASE WHEN j = 0 AND pos > 1 THEN char_start - 2
                          ELSE char_start - 1 + j * 4 END AS cs,
                     least(char_start - 1 + (j + 1) * 4, char_end) AS ce
              FROM p0
            ),
            pk AS (SELECT * FROM p1 WHERE sp_pos <= 30),
            uni AS (
              SELECT DISTINCT doc_id, 0 AS sp_pos, 0::BIGINT AS token_id,
                     0 AS cs, 0 AS ce
              FROM w3
              UNION ALL
              SELECT doc_id, sp_pos, token_id, cs, ce FROM pk
              UNION ALL
              SELECT doc_id, max(sp_pos) + 1, 2::BIGINT, max(ce), 0
              FROM pk GROUP BY doc_id
            )
            SELECT doc_id, sp_pos::BIGINT AS sp_pos, token_id,
                   cs::BIGINT AS char_start, ce::BIGINT AS char_end
            FROM uni
        """,
        "el_token_remap": f"WITH {_SUBWORD} "
        + """
            SELECT s.doc_id, s.pos::BIGINT AS word_pos,
                   s.sp_start::BIGINT AS sp_offset,
                   (e.sp_end - s.sp_start)::BIGINT AS sp_length
            FROM w3 s JOIN w3 e ON e.doc_id = s.doc_id AND e.pos = s.pos + 1
            WHERE s.pos % 5 = 1 AND e.sp_end <= 31
        """,
        "catalogue_tokens": f"WITH {_CATALOGUE} "
        + """
            SELECT ent_id, ent_index, len(ids)::BIGINT AS n_tokens,
                   md5(array_to_string(ids, ',')) AS tokens_md5
            FROM cat_tokens
        """,
        "catalogue_entity_truncation": f"WITH {_CATALOGUE} "
        + """,
            ct AS (
              SELECT ent_id, ([0]::BIGINT[] || ids || [2]::BIGINT[]) AS fullids
              FROM cat_tokens
            ),
            ctr AS (
              SELECT ent_id, fullids,
                     CASE WHEN len(fullids) > 8
                          THEN fullids[1:7] || [2]::BIGINT[]
                          ELSE fullids END AS eids
              FROM ct
            )
            SELECT ent_id, len(fullids)::BIGINT AS n_raw,
                   len(eids)::BIGINT AS n_final,
                   eids[len(eids)]::BIGINT AS last_id,
                   md5(array_to_string(eids, ',')) AS ids_md5
            FROM ctr
        """,
        "catalogue_membership": f"WITH {_CATALOGUE} "
        + """
            SELECT d.doc_id, d.lang || '_' || d.source AS ent_id
            FROM documents d
            WHERE (d.lang || '_' || d.source) IN
                  (SELECT ent_id FROM cat WHERE n_docs >= 3)
        """,
        "text_winnow_fingerprints": f"WITH {_BASE} "
        + """,
            grams AS (
              SELECT doc_id, unnest(generate_series(1, length(norm) - 7))::INT AS i, norm
              FROM recs WHERE length(norm) >= 8
            ),
            packed AS (
              SELECT doc_id, i,
                     (('0x' || substr(md5(substr(norm, i, 8)), 1, 10))::BIGINT
                        * 1048576 + i) AS p
              FROM grams
            ),
            sel AS (
              SELECT DISTINCT doc_id,
                     min(p) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS p
              FROM packed
            )
            SELECT doc_id, (p % 1048576)::BIGINT AS pos, (p // 1048576)::BIGINT AS fp
            FROM sel
        """,
        "dedup_winnow_pairs": f"WITH {_BASE} "
        + f""",
            grams AS (
              SELECT doc_id, unnest(generate_series(1, length(norm) - 7))::INT AS i, norm
              FROM recs WHERE length(norm) >= 8
            ),
            packed AS (
              SELECT doc_id, i,
                     (('0x' || substr(md5(substr(norm, i, 8)), 1, 10))::BIGINT
                        * 1048576 + i) AS p
              FROM grams
            ),
            sel AS (
              SELECT DISTINCT doc_id,
                     min(p) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS p
              FROM packed
            ),
            fps0 AS (SELECT DISTINCT doc_id, (p // 1048576)::BIGINT AS fp FROM sel),
            dfq AS (SELECT fp, count(*) AS dfreq FROM fps0 GROUP BY fp),
            fps AS (
              SELECT f.doc_id, f.fp FROM fps0 f JOIN dfq USING (fp)
              WHERE dfq.dfreq <= {WINNOW_MAX_DF}
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS n_shared
            FROM fps a JOIN fps b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 20
        """,
        "dedup_winnow_fp_drops": f"WITH {_BASE} "
        + f""",
            grams AS (
              SELECT doc_id, unnest(generate_series(1, length(norm) - 7))::INT AS i, norm
              FROM recs WHERE length(norm) >= 8
            ),
            packed AS (
              SELECT doc_id, i,
                     (('0x' || substr(md5(substr(norm, i, 8)), 1, 10))::BIGINT
                        * 1048576 + i) AS p
              FROM grams
            ),
            sel AS (
              SELECT DISTINCT doc_id,
                     min(p) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS p
              FROM packed
            ),
            fps0 AS (SELECT DISTINCT doc_id, (p // 1048576)::BIGINT AS fp FROM sel),
            dfq AS (SELECT fp, count(*) AS n FROM fps0 GROUP BY fp)
            SELECT fp::BIGINT AS fp, n::BIGINT AS n_docs,
                   (n * (n - 1) // 2)::BIGINT AS n_pairs_suppressed
            FROM dfq WHERE n > {WINNOW_MAX_DF}
        """,
        "catalogue_multilang_entity": f"WITH {_BASE} "
        + """,
            counts AS (
              SELECT source, lang, count(*) AS n,
                     min(substr(norm, 1, 30)) AS title
              FROM recs GROUP BY source, lang
            ),
            top AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY source ORDER BY n DESC, lang ASC) AS rn
                FROM counts) WHERE rn = 1
            ),
            tw AS (
              SELECT source, unnest(generate_series(1, len(ws)))::INT AS wi, ws
              FROM (SELECT source,
                           list_filter(string_split(title, ' '), w -> length(w) > 0) AS ws
                    FROM top)
            ),
            tp AS (
              SELECT source, wi, ws[wi] AS w,
                     unnest(generate_series(1, (length(ws[wi]) + 3) // 4))::INT AS pj
              FROM tw
            ),
            tids AS (
              SELECT source, wi, pj,
                     (('0x' || substr(md5(substr(w, (pj - 1) * 4 + 1, 4)), 1, 6))::BIGINT
                        % 49996 + 4) AS tid
              FROM tp
            ),
            tl AS (
              SELECT source, list(tid ORDER BY wi, pj) AS ids
              FROM tids GROUP BY source
            )
            SELECT t.source AS ent_id, t.lang AS top_lang, t.n::BIGINT AS n_docs,
                   md5(array_to_string(coalesce(l.ids, []::BIGINT[]), ',')) AS tokens_md5
            FROM top t LEFT JOIN tl l USING (source)
        """,
        "catalogue_index": """
            SELECT lang, (row_number() OVER (ORDER BY lang) - 1)::BIGINT AS ent_index
            FROM (SELECT DISTINCT lang FROM documents)
        """,
        # --- general analytics -----------------------------------------------
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   floor(sum(l_quantity) * 1000000) / 1000000 AS sum_qty,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 1000000) / 1000000 AS revenue,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        # er_scored_pairs_embedding: FULL oracle for the pandas-UDF-scored
        # pipeline. The UDF's bucket votes are integer sums (exact), the
        # normalization divides integer-valued float64s by an IEEE sqrt — both
        # bit-reproducible in SQL — and the cosine reduces to inner products
        # whose f6-floored values match list_inner_product (same parity as
        # ann_topk). So even the UDF-backed scorer is value-checked.
        "er_scored_pairs_embedding": f"WITH {_SCORED} "
        + """,
            occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
            hs AS (
              SELECT doc_id,
                     ('0x' || substr(md5('42:' || tok), 1, 16))::UBIGINT AS h
              FROM occ
            ),
            votes AS (
              SELECT doc_id, (h % 64)::INT AS bucket,
                     sum(CASE WHEN (h // 4294967296) % 2 = 1 THEN 1 ELSE -1 END) AS v
              FROM hs GROUP BY doc_id, (h % 64)::INT
            ),
            grid AS (
              SELECT d.doc_id, g.i
              FROM (SELECT DISTINCT doc_id FROM documents) d,
                   (SELECT unnest(generate_series(0, 63))::INT AS i) g
            ),
            vec AS (
              SELECT g.doc_id, g.i, coalesce(v.v, 0)::DOUBLE AS x
              FROM grid g LEFT JOIN votes v ON v.doc_id = g.doc_id AND v.bucket = g.i
            ),
            nrms AS (SELECT doc_id, sqrt(sum(x * x)) AS nrm FROM vec GROUP BY doc_id),
            emb AS (
              SELECT v.doc_id,
                     list(CASE WHEN n.nrm = 0 THEN 0.0 ELSE v.x / n.nrm END
                          ORDER BY v.i) AS e
              FROM vec v JOIN nrms n USING (doc_id) GROUP BY v.doc_id
            ),
            withcos AS (
              SELECT s.id1, s.id2, s.f_lev, s.f_jac,
                     CASE WHEN sqrt(list_inner_product(e1.e, e1.e))
                             * sqrt(list_inner_product(e2.e, e2.e)) = 0 THEN 0.0
                          ELSE list_inner_product(e1.e, e2.e)
                               / (sqrt(list_inner_product(e1.e, e1.e))
                                  * sqrt(list_inner_product(e2.e, e2.e))) END AS f_cos
              FROM scored2 s
              JOIN emb e1 ON e1.doc_id = s.id1
              JOIN emb e2 ON e2.doc_id = s.id2
            )
            SELECT id1, id2,
                   floor(f_lev * 1000000) / 1000000 AS f_lev,
                   floor(f_jac * 1000000) / 1000000 AS f_jac,
                   floor(f_cos * 1000000) / 1000000 AS f_cos,
                   floor((0.35 * f_lev + 0.35 * f_jac + 0.30 * f_cos) * 1000000)
                     / 1000000 AS score
            FROM withcos
        """,
        # --- UDF-kernel digest twins ------------------------------------------
        # embed_documents: replays the pandas-UDF feature-hashing kernel
        # (functions/vectors.py:_hash_embed_batch) in SQL. h = first 8 bytes of
        # md5('seed:tok') big-endian (= first 16 hex chars as UBIGINT);
        # bucket = h % dim; sign vote = +1 if bit 32 of h else -1. Bucket sums
        # are integer-exact, so the per-bucket sign pattern digests identically.
        "embed_documents": f"WITH {_BASE} "
        + """,
            occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
            hs AS (
              SELECT doc_id,
                     ('0x' || substr(md5('42:' || tok), 1, 16))::UBIGINT AS h
              FROM occ
            ),
            votes AS (
              SELECT doc_id, (h % 64)::INT AS bucket,
                     sum(CASE WHEN (h // 4294967296) % 2 = 1 THEN 1 ELSE -1 END) AS v
              FROM hs GROUP BY doc_id, (h % 64)::INT
            ),
            grid AS (
              SELECT d.doc_id, g.i
              FROM (SELECT DISTINCT doc_id FROM documents) d,
                   (SELECT unnest(generate_series(0, 63)) AS i) g
            ),
            sgn AS (
              SELECT g.doc_id, g.i,
                     coalesce(CASE WHEN v.v > 0 THEN 1 WHEN v.v < 0 THEN -1
                                   ELSE 0 END, 0) AS s
              FROM grid g LEFT JOIN votes v ON v.doc_id = g.doc_id AND v.bucket = g.i
            ),
            agg AS (
              SELECT doc_id,
                     md5(string_agg(i::VARCHAR || ':' || s::VARCHAR, ',' ORDER BY i))
                       AS sign_digest,
                     max(CASE WHEN s <> 0 THEN 1 ELSE 0 END) AS any_nonzero
              FROM sgn GROUP BY doc_id
            )
            SELECT doc_id, 64::BIGINT AS dim,
                   (CASE WHEN any_nonzero = 1 THEN 1.0 ELSE 0.0 END)::DOUBLE AS l2_norm,
                   sign_digest
            FROM agg
        """,
        # multimodal_features: payload = utf-8 bytes of text, so md5/sha256 of
        # the VARCHAR replay the Python hashlib calls; the stub feature vector
        # is the first 8 md5 bytes / 255, so its byte sum is integer-exact.
        "multimodal_features": """
            WITH f AS (
              SELECT 'm' || doc_id::VARCHAR AS media_id,
                     ['image','audio','video'][
                       ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 3) + 1)::INT
                     ] AS kind,
                     octet_length(encode(text))::BIGINT AS n_bytes,
                     sha256(text) AS payload_sha,
                     md5(text) AS h
              FROM documents
            )
            SELECT media_id, kind, n_bytes, payload_sha, 8::BIGINT AS feature_dim,
                   (('0x' || substr(h, 1, 2))::BIGINT + ('0x' || substr(h, 3, 2))::BIGINT
                    + ('0x' || substr(h, 5, 2))::BIGINT + ('0x' || substr(h, 7, 2))::BIGINT
                    + ('0x' || substr(h, 9, 2))::BIGINT + ('0x' || substr(h, 11, 2))::BIGINT
                    + ('0x' || substr(h, 13, 2))::BIGINT + ('0x' || substr(h, 15, 2))::BIGINT
                   )::BIGINT AS feature_byte_sum
            FROM f
        """,
        "tpch_top_customers": """
            WITH agg AS (
              SELECT c.c_custkey, c.c_name, n.n_name,
                     floor(sum(o.o_totalprice) * 1000000) / 1000000 AS total_spend,
                     count(*)::BIGINT AS n_orders
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              GROUP BY c.c_custkey, c.c_name, n.n_name
            ),
            r AS (
              SELECT *, row_number() OVER (
                ORDER BY total_spend DESC, c_custkey ASC) AS rank
              FROM agg
            )
            SELECT c_custkey, c_name, n_name, total_spend, n_orders
            FROM r WHERE rank <= 20
        """,
    }
