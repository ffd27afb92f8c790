"""Dedup queries over the ``documents`` table, each paired with an exact
DuckDB oracle (the hash primitive is md5 everywhere precisely so the
oracle can reproduce signatures byte-for-byte). See
``operators/dedup.py`` for the scale rationale of each algorithm.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.lsh_tuning import hyperplane_rows_per_band, minhash_rows_per_band
from ..operators import dedup as D
from ..sources.tables import load_table

# Banded geometries derived from the scale rule (functions/lsh_tuning.py)
# at the sf0.1 bench corpus sizes, pinned through the oracle SQL:
# 500 documents → 2 salts/band (8 bands); 2000 embeddings → 8 bits/band.
DD4_ROWS_PER_BAND = minhash_rows_per_band(500)        # = 2
DD6_ROWS_PER_BAND = hyperplane_rows_per_band(2000)    # = 8


def dd1_exact_dedup(spark, sf_dir):
    """Exact dedup: one surviving (min) doc id per distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup_keep_first(docs)
        .select("text_hash", "doc_id", "dup_count")
        .orderBy("doc_id")
    )


def dd2_ngram_jaccard_topk(spark, sf_dir):
    """Top-20 most similar document pairs by 3-gram Jaccard (inverted
    shingle index — no cross join)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.ngram_jaccard_pairs(docs, n=3)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


def dd4_minhash_lsh_candidates(spark, sf_dir):
    """Banded-LSH candidate pairs + estimated Jaccard (8 bands × 2 rows).
    Sub-quadratic: only band-bucket collisions are paired. The oracle
    reproduces the salted-md5 signature matrix end to end, so this row
    also carries dd3's signature-correctness check."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.minhash_lsh_candidates(docs, n=3, rows_per_band=DD4_ROWS_PER_BAND)
        .orderBy(F.desc("est_jaccard"), "doc_a", "doc_b")
        .limit(50)
    )


def dd5_simhash_fingerprints(spark, sf_dir):
    """16-bit SimHash fingerprint per document (md5-bit voting), plus the
    whole-document content fingerprint (md5 over whitespace-normalized
    lowercase text) and its 12-hex shard prefix — the exact-dedup /
    content-addressing key that was row tx4 through round 3 (registry
    consolidation: one row now hash-checks both fingerprint families;
    ``tx4_fingerprints`` in text_queries stays callable and
    pytest-covered)."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    fp = F.md5(normalized.cast("binary"))
    fps = docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 12).alias("shard_key"),
    )
    return D.simhash16(docs).join(fps, "doc_id").orderBy("doc_id")


def dd6_embedding_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: semantic duplicate candidates via
    BANDED hyperplane LSH (16 planes → 2 bands × 256 buckets) + exact
    in-band cosine over threshold, emitted as a canonical (keep = lower
    id, drop = higher id) decision. Banding keeps in-bucket work
    sub-quadratic while the band union holds recall (plane count is the
    log2(N) scale dial). The 0.4 threshold is tuned to this synthetic
    corpus (random vectors — max pairwise cosine ≈ 0.51); a real
    near-dup corpus would use ~0.95."""
    from ..operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        S.lsh_banded_neardup_pairs(
            emb,
            n_planes=2 * DD6_ROWS_PER_BAND,
            rows_per_band=DD6_ROWS_PER_BAND,
            top=None,
            threshold=0.4,
        )
        .select(
            F.col("vec_a").alias("doc_keep"),
            F.col("vec_b").alias("doc_drop"),
            "cos_sim",
        )
        .orderBy(F.desc("cos_sim"), "doc_keep", "doc_drop")
    )


def cc1_neardup_components(spark, sf_dir):
    """Exact transitive closure over the MinHash-LSH candidate graph:
    every document that appears in a candidate pair with
    ``est_jaccard >= 0.5`` is labeled with the minimum doc_id reachable
    through the pair graph (``operators/components.py`` hash-min label
    propagation) plus its cluster size. This is the closure that
    single-pass drop-every-doc_b dedup misses on chains (2~5, 3~5 keeps
    3 even though it is transitively a duplicate of kept 2); the oracle
    reproduces it with a recursive CTE over the identical candidate SQL.

    Scale shape: the edge list is LSH-candidate-sized (orders of
    magnitude below the corpus), rounds are bounded by cluster diameter
    (near-dup clusters are star/clique shaped, diameter <= ~3), and each
    round is one node-keyed join + groupBy — never all-pairs."""
    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    edges = D.minhash_lsh_candidates(
        docs, n=3, rows_per_band=DD4_ROWS_PER_BAND
    ).filter(F.col("est_jaccard") >= 0.5)
    labels = connected_components(edges, "doc_a", "doc_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        labels.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"), "component", "component_size"
        )
        .orderBy("doc_id")
    )


def dd7_span_dedup(spark, sf_dir):
    """Sub-document span-level exact dedup (operators/dedup.py
    span_exact_dedup, the FineWeb/Dolma line-dedup shape): 16-token
    spans, each kept only at its first global occurrence ordered by
    (doc_id, position), documents reassembled in span order — empty
    text (never a missing row) when every span was seen before. The
    oracle replays span slicing, the md5-keyed first-occurrence window
    with the identical tie-break, and the ordered reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.span_exact_dedup(docs, span_tokens=16).orderBy("doc_id")


def sx1_exact_substring_spans(spark, sf_dir):
    """ExactSubstr span marking (operators/substr_dedup.py — Lee et
    al. arXiv:2107.06499 recast as an inverted k-gram index + island
    stitch): every maximal span whose 30-char windows all repeat
    corpus-wide, as 1-based (doc_id, span_start, span_length).
    Registered in round 13, funded by ss2's retirement
    (similarity_queries.py note), after the family survived a real
    planner defect at the 200k probe (the data-dependent dup-hash
    aggregate static-broadcast OOM, fixed by the deliberate merge pin
    in `exact_substring_spans`) — this row re-checks the pinned
    plan's RESULTS every round. The oracle groups on the raw 30-char
    gram STRING, so the check is STRONGER than a replay: it verifies
    the engine's 48-bit md5-prefix gram hashing against true string
    equality (a collision would hash-mismatch; ~(1.5e5)²/2⁴⁹ ≈ 4e-5
    at sf0.01)."""
    from ..operators.substr_dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_substring_spans(docs, k=30)
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_length").cast("long").alias("span_length"),
        )
        .orderBy("doc_id", "span_start")
    )


QUERIES = {
    "dd1_exact_dedup": dd1_exact_dedup,
    "dd2_ngram_jaccard_topk": dd2_ngram_jaccard_topk,
    "dd4_minhash_lsh_candidates": dd4_minhash_lsh_candidates,
    "dd5_simhash_fingerprints": dd5_simhash_fingerprints,
    "dd6_embedding_cosine_neardup": dd6_embedding_cosine_neardup,
    "cc1_neardup_components": cc1_neardup_components,
    "dd7_span_dedup": dd7_span_dedup,
    "sx1_exact_substring_spans": sx1_exact_substring_spans,
}

# Shared SQL fragments (DuckDB): word 3-gram distinct shingles per doc.
_SHINGLES_CTE = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    shingle_rows AS (
        SELECT DISTINCT doc_id,
               l[g] || ' ' || l[g+1] || ' ' || l[g+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(l) - 2, 0))) AS t(g)
    )
"""

ORACLE = {
    "dd1_exact_dedup": """
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS doc_id,
               COUNT(1) AS dup_count
        FROM documents
        GROUP BY md5(text)
        ORDER BY doc_id
    """,
    "dd2_ngram_jaccard_topk": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (
            SELECT doc_id, COUNT(1) AS n_shingles
            FROM shingle_rows GROUP BY doc_id
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS common
            FROM shingle_rows a JOIN shingle_rows b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(common / (sa.n_shingles + sb.n_shingles - common), 6)
                   AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        ORDER BY jaccard DESC, doc_a, doc_b
        LIMIT 20
    """,
    "dd4_minhash_lsh_candidates": f"""
        WITH {_SHINGLES_CTE},
        sigs AS (
            SELECT doc_id, salt,
                   MIN(md5(CAST(salt AS VARCHAR) || '|' || shingle)) AS minhash
            FROM shingle_rows, UNNEST(generate_series(0, 15)) AS s(salt)
            GROUP BY doc_id, salt
        ),
        bands AS (
            SELECT doc_id, CAST(salt // 2 AS INT) AS band,
                   md5(string_agg(lpad(CAST(salt AS VARCHAR), 4, '0')
                                  || ':' || minhash, ','
                                  ORDER BY lpad(CAST(salt AS VARCHAR), 4, '0')
                                           || ':' || minhash)) AS bucket
            FROM sigs
            GROUP BY doc_id, band
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
                     / 16.0, 4) AS est_jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b AND sb.salt = sa.salt
        GROUP BY doc_a, doc_b
        ORDER BY est_jaccard DESC, doc_a, doc_b
        LIMIT 50
    """,
    "dd6_embedding_cosine_neardup": """
        WITH planes AS (
            SELECT p, d,
                   CASE WHEN substr(md5(CAST(p AS VARCHAR) || '_'
                                      || CAST(d AS VARCHAR)), 1, 1) >= '8'
                        THEN 1.0 ELSE -1.0 END AS w
            FROM UNNEST(generate_series(0, 15)) AS pp(p),
                 UNNEST(generate_series(0, 63)) AS dd(d)
        ),
        elems AS (
            SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS e
            FROM embeddings, UNNEST(generate_series(0, 63)) AS t(d)
        ),
        bits AS (
            SELECT vec_id, p,
                   CASE WHEN SUM(e * w) >= 0 THEN 1 ELSE 0 END AS bit
            FROM elems JOIN planes USING (d)
            GROUP BY vec_id, p
        ),
        bands AS (
            SELECT vec_id,
                   CAST(floor(p / 8) AS BIGINT) AS band,
                   CAST(SUM(bit * POW(2, p % 8)) AS BIGINT) AS bucket
            FROM bits
            GROUP BY vec_id, floor(p / 8)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS doc_keep, b.vec_id AS doc_drop
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.vec_id < b.vec_id
        )
        SELECT doc_keep, doc_drop,
               ROUND(list_cosine_similarity(
                   CAST(ea.embedding AS DOUBLE[]),
                   CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = doc_keep
        JOIN embeddings eb ON eb.vec_id = doc_drop
        WHERE ROUND(list_cosine_similarity(
                  CAST(ea.embedding AS DOUBLE[]),
                  CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4
        ORDER BY cos_sim DESC, doc_keep, doc_drop
    """,
    # Identical signature/band/candidate pipeline as dd4 (so cc1 also
    # re-verifies the signature matrix), then the exact closure as a
    # recursive CTE: reach(node, r) = all nodes reachable from node,
    # label = MIN(r) — the same fixpoint the Spark hash-min loop computes.
    "cc1_neardup_components": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        sigs AS (
            SELECT doc_id, salt,
                   MIN(md5(CAST(salt AS VARCHAR) || '|' || shingle)) AS minhash
            FROM shingle_rows, UNNEST(generate_series(0, 15)) AS s(salt)
            GROUP BY doc_id, salt
        ),
        bands AS (
            SELECT doc_id, CAST(salt // 2 AS INT) AS band,
                   md5(string_agg(lpad(CAST(salt AS VARCHAR), 4, '0')
                                  || ':' || minhash, ','
                                  ORDER BY lpad(CAST(salt AS VARCHAR), 4, '0')
                                           || ':' || minhash)) AS bucket
            FROM sigs
            GROUP BY doc_id, band
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a, doc_b
            FROM cand
            JOIN sigs sa ON sa.doc_id = doc_a
            JOIN sigs sb ON sb.doc_id = doc_b AND sb.salt = sa.salt
            GROUP BY doc_a, doc_b
            HAVING ROUND(SUM(CASE WHEN sa.minhash = sb.minhash
                                  THEN 1 ELSE 0 END) / 16.0, 4) >= 0.5
        ),
        sym AS (
            SELECT doc_a AS s, doc_b AS t FROM edges
            UNION
            SELECT doc_b, doc_a FROM edges
        ),
        reach AS (
            SELECT DISTINCT s AS node, s AS r FROM sym
            UNION
            SELECT rr.node, sym.t FROM reach rr JOIN sym ON sym.s = rr.r
        )
        , labels AS (
            SELECT node, MIN(r) AS component FROM reach GROUP BY node
        )
        SELECT l.node AS doc_id, l.component, s.component_size
        FROM labels l
        JOIN (
            SELECT component, COUNT(1) AS component_size
            FROM labels GROUP BY component
        ) s USING (component)
        ORDER BY doc_id
    """,
    # span slicing via list_slice (1-based inclusive = Spark's
    # slice(start, len) on the same boundaries), first occurrence by
    # ROW_NUMBER over md5(span) with the identical (doc_id, pos)
    # tie-break, reassembly by pos-ordered string_agg
    "dd7_span_dedup": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS l
            FROM documents
        ),
        spans AS (
            SELECT doc_id, g AS pos,
                   array_to_string(
                       list_slice(l, (g - 1) * 16 + 1,
                                  least(g * 16, len(l))), ' ') AS span
            FROM toks,
                 UNNEST(generate_series(
                     1,
                     greatest(CAST(ceil(len(l) / 16.0) AS BIGINT), 1)
                 )) AS s(g)
            WHERE len(l) > 0
        ),
        ranked AS (
            SELECT doc_id, pos, span,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(span) ORDER BY doc_id, pos
                   ) AS rnk
            FROM spans WHERE span <> ''
        ),
        rebuilt AS (
            SELECT doc_id,
                   COALESCE(string_agg(span, ' ' ORDER BY pos)
                            FILTER (WHERE rnk = 1), '') AS text,
                   COUNT(1) AS n_spans,
                   SUM(CASE WHEN rnk > 1 THEN 1 ELSE 0 END)
                       AS n_dropped_spans
            FROM ranked GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(r.text, '') AS text,
               CAST(COALESCE(r.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(r.n_dropped_spans, 0) AS BIGINT)
                   AS n_dropped_spans
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY d.doc_id
    """,
    # Groups on the raw 30-char gram (not its hash): the oracle checks
    # the engine's 48-bit gram hashing against exact string equality.
    "sx1_exact_substring_spans": """
        WITH grams AS (
            SELECT doc_id, CAST(g AS BIGINT) AS p,
                   substring(text, CAST(g AS INT), 30) AS gram
            FROM documents,
                 UNNEST(generate_series(
                     1, greatest(length(text) - 29, 0)
                 )) AS t(g)
        ),
        dup AS (
            SELECT gram FROM grams GROUP BY gram HAVING COUNT(1) >= 2
        ),
        marked AS (
            SELECT doc_id, p FROM grams JOIN dup USING (gram)
        ),
        islands AS (
            SELECT doc_id, p,
                   p - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY p
                   ) AS island
            FROM marked
        )
        SELECT doc_id,
               MIN(p) AS span_start,
               MAX(p) - MIN(p) + 30 AS span_length
        FROM islands
        GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
    "dd5_simhash_fingerprints": """
        WITH tokens AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, md5(token) AS h FROM tokens WHERE token <> ''
        ),
        votes AS (
            SELECT doc_id, bit,
                   SUM(CASE WHEN substr(h, bit + 1, 1) IN
                            ('8','9','a','b','c','d','e','f')
                            THEN 1 ELSE -1 END) AS v
            FROM hashed, UNNEST(generate_series(0, 15)) AS b(bit)
            GROUP BY doc_id, bit
        )
        SELECT v.doc_id,
               CAST(SUM(CASE WHEN v.v >= 0 THEN POW(2, v.bit) ELSE 0 END)
                    AS BIGINT) AS simhash,
               ANY_VALUE(f.fingerprint) AS fingerprint,
               ANY_VALUE(substr(f.fingerprint, 1, 12)) AS shard_key
        FROM votes v
        JOIN (
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS fingerprint
            FROM documents
        ) f ON v.doc_id = f.doc_id
        GROUP BY v.doc_id
        ORDER BY v.doc_id
    """,
}
