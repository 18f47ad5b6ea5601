package graft
package queries

import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity: exact and approximate nearest neighbours,
  * quantizers and near-duplicate groups (s01-s10). */
object SimilarityQueries {

  /** Shared DuckDB CTE block for the amplified-LSH oracles: given an
    * upstream `e0(vec_id, embedding)` CTE, emits `e` (projections on planes
    * 0..tables*bits−1), `b` (per-table sign buckets + norm) and `st` (the
    * stacked `(vec_id, tbl, bucket)` index) — the SQL twin of
    * [[graft.pipeline.Similarity.lshBucketIndex]]. */
  private def lshOracleCtes(tables: Int, bits: Int): String = {
    val projs = (0 until tables * bits).map { p =>
      s"""list_aggregate(list_transform(range(1, len(embedding) + 1),
         |   i -> embedding[i]::DOUBLE * (('0x' || substr(md5('plane$p:' || (i-1)::VARCHAR), 1, 8))::BIGINT::DOUBLE / 2147483648.0 - 1.0)), 'sum') AS p_$p""".stripMargin
    }.mkString(",\n ")
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map(j => s"(CASE WHEN p_${t * bits + j} >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ") + s" AS bucket_$t"
    }.mkString(",\n ")
    val stack = (0 until tables)
      .map(t => s"SELECT vec_id, $t AS tbl, bucket_$t AS bucket FROM b")
      .mkString("\n UNION ALL ")
    s"""e AS (SELECT vec_id, embedding,
       | sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS nrm,
       | $projs
       |FROM e0),
       |b AS (SELECT vec_id, embedding, nrm, $bucketCols FROM e),
       |st AS ($stack)""".stripMargin
  }

  val all: Seq[Query] = Seq(

    Query("s01_ann_bruteforce",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  round(list_aggregate(list_transform(range(1, len(qv) + 1),
        |          i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
        |   / nullif(sqrt(list_aggregate(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))
        |          * sqrt(list_aggregate(list_transform(range(1, len(cv) + 1), i -> cv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')), 0), 6) AS sim6
        | FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim6 DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      floor = true) { t =>
      val emb = t("embeddings")
      val q = emb.where(col("vec_id") < 8).select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), Similarity.norm(col("embedding")).as("qn"))
      val c = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.dot(col("qv"), col("cv")) /
            nullif(col("qn") * col("cn"), lit(0.0)), 6).as("sim6"))
      // K-bounded heap top-k (no per-query window sort of the scored corpus)
      Similarity.topKPerQuery(scored, "query_id", "sim6", "neighbor_id", 5, asc = false)
        .select(col("query_id"), col("neighbor_id"), col("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s02_ann_lsh", {
      // AND-OR amplified LSH replicated in SQL: 3 tables × 6 bits, plane
      // index = tbl*6 + j. md5-derived hyperplanes are engine-portable:
      // plane(p,d) = hex32(md5("plane<p>:<d>"))/2^31 − 1, an exact dyadic
      // rational, so projections and sign buckets are bit-identical.
      s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
         |${lshOracleCtes(tables = 3, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
         |pairs AS (
         | SELECT query_id, neighbor_id,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS c_raw
         | FROM cand JOIN b qa ON cand.query_id = qa.vec_id JOIN b qb ON cand.neighbor_id = qb.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }, floor = false) { t =>
      // AND-OR amplified: 3 tables × 6 bits (64 buckets/table) — candidate
      // volume governed by bucket occupancy, never N²
      Similarity.topKLsh(t("embeddings"), "vec_id", "embedding", k = 5,
          tables = 3, bitsPerTable = 6, dims = Some(64))
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s03_embedding_neardup",
      // LSH pre-filter (4 tables × 6 bits) → exact cosine ≥ 0.45, over the
      // corpus plus injected exact duplicates (id + 100000)
      s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |${lshOracleCtes(tables = 4, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |pairs AS (
         | SELECT id_a, id_b,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS cosine
         | FROM cand JOIN b qa ON cand.id_a = qa.vec_id JOIN b qb ON cand.id_b = qb.vec_id)
         |SELECT id_a, id_b, round(cosine, 6) AS sim6 FROM pairs
         |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,
      floor = true) { t =>
      // corpus-scale near-dup: LSH bucket pre-filter → exact cosine. True
      // near-dups are injected (each vector unioned with an exact copy at
      // id+100000) so the query demonstrates recall on genuine duplicates;
      // the oracle replicates the union and the identical bucket filter.
      val emb = t("embeddings")
      val dup = emb.withColumn("vec_id", col("vec_id") + lit(100000L))
      Similarity.nearDupPairsLsh(emb.unionByName(dup), "vec_id", "embedding",
          minCosine = 0.45, tables = 4, bitsPerTable = 6, dims = Some(64))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("sim6"))
        .orderBy("id_a", "id_b")
    },

    Query("s04_ann_ivf", {
      def dotSql(a: String, b: String) =
        s"""list_aggregate(list_transform(range(1, len($a) + 1),
           |     i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')""".stripMargin
      def nrmSql(a: String) =
        s"sqrt(list_aggregate(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), 'sum'))"
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec, ${nrmSql("embedding")} AS cnrm
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |v AS (SELECT vec_id AS id, embedding AS vec, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |aff AS (SELECT id, vec, nrm, cid, ${dotSql("vec", "cvec")} / nullif(nrm * cnrm, 0) AS aff
         |        FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, nrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY aff DESC, cid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${nrmSql("embedding")} AS qnrm
         |      FROM embeddings WHERE vec_id < 8),
         |qaff AS (SELECT qid, qvec, qnrm, cid, ${dotSql("qvec", "cvec")} / nullif(qnrm * cnrm, 0) AS aff
         |         FROM q CROSS JOIN c),
         |probes AS (SELECT qid, qvec, qnrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY aff DESC, cid) AS pr FROM qaff) t
         |  WHERE pr <= 4),
         |scored AS (SELECT qid AS query_id, id AS neighbor_id,
         |  ${dotSql("qvec", "vec")} / nullif(qnrm * nrm, 0) AS c_raw
         |  FROM assigned JOIN probes USING (cell) WHERE qid <> id),
         |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }, floor = true) { t =>
      // IVF-flat: data-adaptive cells (vs topKLsh's oblivious planes);
      // deterministic coarse quantizer = 16 lowest-id vectors, 4 probes
      val emb = t("embeddings")
      Similarity.topKIvf(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s05_embedding_quantize",
      """WITH s AS (SELECT vec_id, embedding,
        |  nullif(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 0) AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, embedding, scale,
        |  list_transform(embedding, x -> CAST(coalesce(round(x::DOUBLE / scale), 0) AS TINYINT)) AS qv
        |  FROM s)
        |SELECT vec_id, round(coalesce(scale, 0), 9) AS scale9,
        | list_aggregate(list_transform(qv, v -> v::BIGINT), 'sum')::BIGINT AS qsum,
        | list_min(qv)::BIGINT AS qmin, list_max(qv)::BIGINT AS qmax,
        | round(list_max(list_transform(range(1, len(embedding) + 1),
        |   i -> abs(embedding[i]::DOUBLE - qv[i]::DOUBLE * coalesce(scale, 0)))), 9) AS err9
        |FROM q ORDER BY vec_id""".stripMargin,
      floor = true) { t =>
      // int8 scalar quantization profile: per-vector scale, code stats and
      // max reconstruction error (≤ scale/2 by construction). Shape choice,
      // MEASURED at sf0.1/64-dim: this per-row projection runs the derived
      // stats as in-row array passes (0.63 s); the explode-agg alternative
      // (quantize once per element, partial-agg back per vector) pays a
      // 1.6 M-row shuffle and measured 1.78× slower. At high dimension /
      // 100 TB the explode shape wins — that is exactly what
      // Similarity.sq8Codes does for the MATERIALIZED codes artifact (used
      // by s06); this profiling query stays shuffle-free.
      val emb = t("embeddings")
      emb.select(col("vec_id"), col("embedding"),
          Similarity.sqScale(col("embedding")).as("scale"))
        .withColumn("q", Similarity.sqQuantize(col("embedding"), col("scale")))
        .select(
          col("vec_id"),
          round(coalesce(col("scale"), lit(0.0)), 9).as("scale9"),
          aggregate(col("q"), lit(0L), (a, v) => a + v.cast("long")).as("qsum"),
          array_min(col("q")).cast("long").as("qmin"),
          array_max(col("q")).cast("long").as("qmax"),
          round(array_max(zip_with(col("embedding"), col("q"),
            (x, v) => abs(x.cast("double") - v.cast("double") * coalesce(col("scale"), lit(0.0))))), 9).as("err9"))
        .orderBy("vec_id")
    },

    Query("s06_ann_sq8",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |  sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS qn
        | FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT vec_id, embedding,
        |  nullif(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 0) AS scale
        | FROM embeddings),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, scale,
        |  list_transform(embedding, x -> CAST(coalesce(round(x::DOUBLE / scale), 0) AS TINYINT)) AS codes
        | FROM s),
        |c2 AS (SELECT neighbor_id, cv, scale, codes,
        |  scale * sqrt(list_aggregate(list_transform(codes, v -> v::DOUBLE * v::DOUBLE), 'sum')) AS cn
        | FROM c),
        |approx AS (SELECT query_id, neighbor_id, cv, qv, qn,
        |  scale * list_aggregate(list_transform(range(1, len(codes) + 1), i -> codes[i]::DOUBLE * qv[i]::DOUBLE), 'sum')
        |    / nullif(cn * qn, 0) AS approx
        | FROM c2 CROSS JOIN q WHERE query_id <> neighbor_id),
        |short AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS r FROM approx),
        |rer AS (SELECT query_id, neighbor_id,
        |  list_aggregate(list_transform(range(1, len(qv) + 1), i -> qv[i]::DOUBLE * cv[i]::DOUBLE), 'sum')
        |    / nullif(qn * sqrt(list_aggregate(list_transform(cv, x -> x::DOUBLE * x::DOUBLE), 'sum')), 0) AS c_raw
        | FROM short WHERE r <= 20),
        |ranked AS (SELECT query_id, neighbor_id, round(c_raw, 6) AS sim6,
        |  row_number() OVER (PARTITION BY query_id ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
        |SELECT query_id, neighbor_id, sim6, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
      floor = true) { t =>
      // asymmetric SQ8 ANN (FAISS-style ADC): the shortlist scan reads only
      // the int8 codes + per-vector scale (4× less bandwidth than floats at
      // 100 TB), then the top-20 candidates per query re-rank exactly with
      // the float vectors — composing s05's quantizer into a search query
      val emb = t("embeddings")
      Similarity.topKSq8(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s09_ann_pq",
      // identical subspace slices, hoisted sub-norms, d2 = an2 − 2⟨a,b⟩ +
      // bn2 in the same association order, (d2, cid) argmin, flat distance
      // table indexed [sub·16 + code], sequential-fold ADC — every double
      // is bit-identical to the engine, so shortlist and ranks agree
      """WITH seeds AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
        |    embedding AS vec
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16) z),
        |cb AS (SELECT s AS sub, cid, vec[s*8 + 1 : s*8 + 8] AS cvec
        |       FROM seeds CROSS JOIN unnest(range(8)) u(s)),
        |cb2 AS (SELECT sub, cid, cvec,
        |  list_aggregate(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE), 'sum') AS bn2
        |  FROM cb),
        |sv AS (SELECT vec_id AS id, s AS sub, embedding[s*8 + 1 : s*8 + 8] AS sv
        |       FROM embeddings CROSS JOIN unnest(range(8)) u(s)),
        |sv2 AS (SELECT id, sub, sv,
        |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2
        |  FROM sv),
        |d AS (SELECT id, sv2.sub AS sub, cid,
        |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
        |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
        |  FROM sv2 JOIN cb2 ON sv2.sub = cb2.sub),
        |amin AS (SELECT id, sub, cid, d2,
        |  row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS r FROM d),
        |codes AS (SELECT id, list(cid ORDER BY sub) AS codes
        |          FROM amin WHERE r = 1 GROUP BY id),
        |dtq AS (SELECT id AS query_id, list(d2 ORDER BY sub, cid) AS dt
        |        FROM d WHERE id < 8 GROUP BY id),
        |q AS (SELECT vec_id AS query_id, embedding AS qv,
        |  sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) AS qn
        |  FROM embeddings WHERE vec_id < 8),
        |adc AS (SELECT dtq.query_id, c.id AS neighbor_id,
        |  list_aggregate(list_transform(range(1, 9),
        |    s -> dt[(s - 1) * 16 + codes[s] + 1]), 'sum') AS adc
        |  FROM codes c CROSS JOIN dtq WHERE dtq.query_id <> c.id),
        |short AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, neighbor_id) AS r FROM adc),
        |rer AS (SELECT s.query_id, s.neighbor_id, s.adc,
        |  list_aggregate(list_transform(range(1, len(qv) + 1),
        |    i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')
        |   / nullif(qn * sqrt(list_aggregate(list_transform(e.embedding,
        |       x -> x::DOUBLE * x::DOUBLE), 'sum')), 0) AS c_raw
        |  FROM short s JOIN q ON q.query_id = s.query_id
        |  JOIN embeddings e ON e.vec_id = s.neighbor_id WHERE s.r <= 20),
        |ranked AS (SELECT query_id, neighbor_id, round(adc, 6) AS adc6,
        |  round(c_raw, 6) AS sim6,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
        |SELECT query_id, neighbor_id, adc6, sim6, rank::BIGINT AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      floor = true) { t =>
      // product-quantization ANN (FAISS IndexPQ + ADC): 8 subspaces × 16
      // codewords (codebook = first-16 subvectors — the deterministic
      // k-means stand-in, same pattern as ivfCentroids); the shortlist
      // scan reads ONLY the 8-code arrays (32× less bandwidth than the
      // float column at 100 TB), each point costs 8 table lookups, and
      // the top-20 re-rank exactly on the floats. adc6 pins the PQ
      // approximation itself, sim6 the re-rank.
      val emb = t("embeddings")
      Similarity.topKPq(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          dims = 64, k = 5, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc"), 6).as("adc6"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s10_ann_ivfpq", {
      def dotSql(a: String, b: String) =
        s"list_aggregate(list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), 'sum')"
      def nrmSql(a: String) =
        s"sqrt(list_aggregate(list_transform($a, x -> x::DOUBLE * x::DOUBLE), 'sum'))"
      // s04's IVF fragment composed with s09's PQ fragment over RESIDUALS;
      // every double mirrors the engine's expression shape exactly
      s"""WITH c AS (SELECT vec_id AS ccid, embedding AS ccvec, ${nrmSql("embedding")} AS ccnrm
         |           FROM embeddings ORDER BY vec_id LIMIT 16),
         |v AS (SELECT vec_id AS id, embedding AS vec, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |aff AS (SELECT id, vec, nrm, ccid, ${dotSql("vec", "ccvec")} / nullif(nrm * ccnrm, 0) AS aff
         |        FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, cell FROM (
         |  SELECT id, vec, ccid AS cell,
         |    row_number() OVER (PARTITION BY id ORDER BY aff DESC, ccid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |res AS (SELECT id, cell, list_transform(range(1, len(vec) + 1),
         |    i -> vec[i]::DOUBLE - ccvec[i]::DOUBLE) AS res
         |  FROM assigned JOIN c ON cell = ccid),
         |seeds AS (SELECT (row_number() OVER (ORDER BY id)) - 1 AS cid, res AS svec
         |  FROM (SELECT * FROM res WHERE id >= 16 ORDER BY id LIMIT 16) z),
         |cb AS (SELECT s AS sub, cid, svec[s*8 + 1 : s*8 + 8] AS cvec
         |       FROM seeds CROSS JOIN unnest(range(8)) u(s)),
         |cb2 AS (SELECT sub, cid, cvec,
         |  list_aggregate(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE), 'sum') AS bn2 FROM cb),
         |sv AS (SELECT id, s AS sub, res[s*8 + 1 : s*8 + 8] AS sv
         |       FROM res CROSS JOIN unnest(range(8)) u(s)),
         |sv2 AS (SELECT id, sub, sv,
         |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2 FROM sv),
         |d AS (SELECT id, sv2.sub AS sub, cid,
         |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
         |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
         |  FROM sv2 JOIN cb2 ON sv2.sub = cb2.sub),
         |amin AS (SELECT id, sub, cid,
         |  row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS r FROM d),
         |codes AS (SELECT a.id AS id, asg.cell AS cell, list(a.cid ORDER BY a.sub) AS codes
         |          FROM amin a JOIN assigned asg ON a.id = asg.id
         |          WHERE a.r = 1 GROUP BY a.id, asg.cell),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${nrmSql("embedding")} AS qnrm
         |      FROM embeddings WHERE vec_id < 8),
         |qaff AS (SELECT qid, ccid, ${dotSql("qvec", "ccvec")} / nullif(qnrm * ccnrm, 0) AS aff
         |         FROM q CROSS JOIN c),
         |probes AS (SELECT qid, ccid AS cell FROM (
         |  SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY aff DESC, ccid) AS pr
         |  FROM qaff) t WHERE pr <= 4),
         |qres AS (SELECT qid, cell, list_transform(range(1, len(qvec) + 1),
         |    i -> qvec[i]::DOUBLE - ccvec[i]::DOUBLE) AS qres
         |  FROM probes JOIN c ON cell = ccid JOIN q USING (qid)),
         |qsv AS (SELECT qid, cell, s AS sub, qres[s*8 + 1 : s*8 + 8] AS sv
         |        FROM qres CROSS JOIN unnest(range(8)) u(s)),
         |qsv2 AS (SELECT qid, cell, sub, sv,
         |  list_aggregate(list_transform(sv, x -> x::DOUBLE * x::DOUBLE), 'sum') AS an2 FROM qsv),
         |qd AS (SELECT qid, cell, qsv2.sub AS sub, cid,
         |  an2 - 2.0 * list_aggregate(list_transform(range(1, 9),
         |    i -> sv[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') + bn2 AS d2
         |  FROM qsv2 JOIN cb2 ON qsv2.sub = cb2.sub),
         |dtq AS (SELECT qid, cell, list(d2 ORDER BY sub, cid) AS dt FROM qd GROUP BY qid, cell),
         |adc AS (SELECT dtq.qid AS query_id, codes.id AS neighbor_id,
         |  list_aggregate(list_transform(range(1, 9),
         |    s -> dt[(s - 1) * 16 + codes[s] + 1]), 'sum') AS adc
         |  FROM codes JOIN dtq ON codes.cell = dtq.cell WHERE dtq.qid <> codes.id),
         |short AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc, neighbor_id) AS r FROM adc),
         |rer AS (SELECT sh.query_id, sh.neighbor_id, sh.adc,
         |  list_aggregate(list_transform(range(1, len(qvec) + 1),
         |    i -> qvec[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qnrm * ${nrmSql("e.embedding")}, 0) AS c_raw
         |  FROM short sh JOIN q ON q.qid = sh.query_id
         |  JOIN embeddings e ON e.vec_id = sh.neighbor_id WHERE sh.r <= 20),
         |ranked AS (SELECT query_id, neighbor_id, round(adc, 6) AS adc6,
         |  round(c_raw, 6) AS sim6,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY c_raw DESC, neighbor_id) AS rank FROM rer)
         |SELECT query_id, neighbor_id, adc6, sim6, rank::BIGINT AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }, floor = false) { t =>
      // IVF-PQ composed (FAISS IndexIVFPQ): coarse quantizer = 16 lowest-id
      // vectors, 4 probes; RESIDUALS are PQ-encoded (8×16 book seeded from
      // the first non-centroid ids); per-(query,cell) ADC tables on the
      // query residual; top-20 re-rank exactly. The production 100 TB ANN
      // shape: scan cost ≈ N·nprobe/nlist over a 32×-smaller artifact.
      val emb = t("embeddings")
      Similarity.topKIvfPq(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          dims = 64, k = 5, nlist = 16, nprobe = 4, shortlist = 20)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc"), 6).as("adc6"), round(col("cosine"), 6).as("sim6"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Query("s07_neardup_groups",
      // same pair graph as s03 (bit-identical buckets + cosine threshold),
      // closed transitively — proves the distributed CC agrees exactly
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
         |${lshOracleCtes(tables = 4, bits = 6)},
         |cand AS (
         | SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         | FROM st a JOIN st c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |pairs AS (
         | SELECT id_a, id_b,
         |  list_aggregate(list_transform(range(1, len(qa.embedding) + 1),
         |     i -> qa.embedding[i]::DOUBLE * qb.embedding[i]::DOUBLE), 'sum')
         |   / nullif(qa.nrm * qb.nrm, 0) AS cosine
         | FROM cand JOIN b qa ON cand.id_a = qa.vec_id JOIN b qb ON cand.id_b = qb.vec_id),
         |sel AS (SELECT id_a, id_b FROM pairs WHERE cosine >= 0.45),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM sel
         |       UNION ALL SELECT id_b, id_a FROM sel),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS vec_id, min(lab) AS component FROM reach
         |GROUP BY node ORDER BY vec_id""".stripMargin,
      floor = true) { t =>
      // embedding near-dup GROUPS: LSH-bounded pairs (s03's exact query) →
      // large-star/small-star connected components; component = min vec_id.
      // The oracle closes the same thresholded pair graph recursively.
      val emb = t("embeddings")
      val dup = emb.withColumn("vec_id", col("vec_id") + lit(100000L))
      Similarity.nearDupComponents(emb.unionByName(dup), "vec_id", "embedding",
          minCosine = 0.45, tables = 4, bitsPerTable = 6, dims = Some(64))
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },

    Query("s08_semantic_dedup",
      // same cell assignment as s04's quantizer (16 lowest-id centroids,
      // best affinity, ties to smallest cid), within-cell cosine >= 0.6,
      // recursive closure; keep = node == its group minimum
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 200000, embedding FROM embeddings),
         |v AS (SELECT vec_id AS id, embedding AS vec,
         |  sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
         |    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS nrm FROM e0),
         |c AS (SELECT id AS cid, vec AS cvec, nrm AS cnrm FROM v ORDER BY id LIMIT 16),
         |aff AS (SELECT id, vec, nrm, cid,
         |  list_aggregate(list_transform(range(1, len(vec) + 1),
         |    i -> vec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum') / nullif(nrm * cnrm, 0) AS aff
         |  FROM v CROSS JOIN c),
         |assigned AS (SELECT id, vec, nrm, cid AS cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY aff DESC, cid) AS rn FROM aff) t
         |  WHERE rn = 1),
         |pairs AS (SELECT a.id AS id_a, bb.id AS id_b,
         |  list_aggregate(list_transform(range(1, len(a.vec) + 1),
         |    i -> a.vec[i]::DOUBLE * bb.vec[i]::DOUBLE), 'sum') / nullif(a.nrm * bb.nrm, 0) AS cosine
         |  FROM assigned a JOIN assigned bb ON a.cell = bb.cell AND a.id < bb.id),
         |sel AS (SELECT id_a, id_b FROM pairs WHERE cosine >= 0.6),
         |bi AS (SELECT id_a AS src, id_b AS dst FROM sel
         |       UNION ALL SELECT id_b, id_a FROM sel),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS vec_id, min(lab) AS component,
         |  node = min(lab) AS keep FROM reach
         |GROUP BY node ORDER BY vec_id""".stripMargin,
      floor = true) { t =>
      // SemDeDup: 16 deterministic cells bound the pairwise comparison;
      // injected duplicate copies (+100000, +200000) plant known 3-member
      // semantic groups whose keeper must be the original id
      val emb = t("embeddings")
      val tri = emb
        .unionByName(emb.withColumn("vec_id", col("vec_id") + lit(100000L)))
        .unionByName(emb.withColumn("vec_id", col("vec_id") + lit(200000L)))
      Similarity.semanticDedupGroups(tri, "vec_id", "embedding",
          nlist = 16, tau = 0.6)
        .select(col("id").as("vec_id"), col("component"), col("keep"))
        .orderBy("vec_id")
    }
  )
}
