package graft
package queries

import graft.pipeline.{Classifier, Dedup, Packing, Sampling, TextAnalysis, Vocab}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline: dedup, text analysis, vocab, sampling,
  * packing and classifiers (p01-p46). */
object PipelineQueries {

  /** Pre-tokenized twin of the documents table — the north-rule input
    * shape `(doc_id, tokens array<int>, n_tok, source)` — derived
    * DETERMINISTICALLY from documents.text (md5-window token ids mod
    * 50,000), so Spark and the DuckDB oracle materialize the identical
    * token corpus; the token-domain dedup family (p29-p31) runs on it
    * natively, no text reconstruction. */
  private def tokenizedDocs(t: Tables): DataFrame =
    t("documents")
      .select(col("doc_id"),
        transform(graft.pipeline.TextAnalysis.words(col("text")),
          w => pmod(Dedup.md5Hash32(w, 0), lit(50000L)).cast("int")).as("tokens"),
        col("source"))
      .withColumn("n_tok", size(col("tokens")))

  /** DuckDB twin of [[tokenizedDocs]] (CTE named `tokd`). */
  private val tokenizedDocsCte: String =
    """tokd AS (SELECT doc_id, list_transform(
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
      |  w -> ((('0x' || substr(md5('0:' || w), 1, 8))::BIGINT % 50000))::INT) AS tokens,
      |  source FROM documents)""".stripMargin

  /** 64-bit SimHash SQL fragments shared by the p09/p19 oracles. DuckDB
    * rejects a 16-hex-char `'0x…'::BIGINT` (signed overflow), so the word
    * hash stays as two 32-bit md5 windows `hi`/`lo` — the same windows
    * Spark combines as `(hi << 32) | lo` — and the votes address bits 0-31
    * in `lo`, 32-63 in `hi`. Bit 63 of the fingerprint is written as the
    * min-long literal (never `1 << 63` arithmetic); the sum of distinct
    * powers of two can't overflow (positives ≤ 2^63−1, then + min-long
    * stays in range). */
  private def simhash64Votes: String =
    (0 until 64).map { b =>
      val src = if (b < 32) s"(lo >> $b)" else s"(hi >> ${b - 32})"
      s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS v_$b"
    }.mkString(", ")

  private def simhash64Fp: String =
    (0 until 64).map { b =>
      if (b == 63) "CASE WHEN v_63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
      else s"CASE WHEN v_$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  /** 3-shingle → 16-sig → 8-band → candidate CTEs, assuming a prior CTE
    * `w(doc_id, ws)` (ws = the term list: words, or stringified token
    * ids). */
  private def minhashBandCtes: String = {
    val sig = (0 until 16).map(j =>
      s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
      .mkString(",\n ")
    val bandList = (0 until 8).map(b =>
      s"md5(sig_${2 * b}::VARCHAR || ',' || sig_${2 * b + 1}::VARCHAR)").mkString(", ")
    s"""shl AS (SELECT doc_id, list_distinct(list_transform(
       |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
       |sigs AS (SELECT doc_id, $sig FROM shl),
       |bands AS (SELECT doc_id, unnest([$bandList]) AS bucket FROM sigs),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared DuckDB CTE chain producing the MinHash-LSH candidate pairs as
    * `cand(id_a, id_b)` — 16 md5-window signatures, 8 bands × 2 rows; band
    * key = md5 of the comma-joined decimal signature pair (identical to
    * Spark's md5(concat_ws(",", sig::string…)) — sigs are in [0, 2^32) so
    * the decimal rendering is sign-free and engine-identical). Used by the
    * p08 (pairs) and p10 (connected components) oracles. */
  private def minhashPairCtes: String =
    s"""w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ws FROM documents),
       |$minhashBandCtes""".stripMargin

  /** Token-domain twin: same band machinery over stringified token ids of
    * the derived pre-tokenized corpus, with dups injected at id+100000. */
  private def tokenMinhashPairCtes: String =
    s"""$tokenizedDocsCte,
       |alltok AS (SELECT doc_id, tokens FROM tokd
       |  UNION ALL SELECT doc_id + 100000, tokens FROM tokd WHERE doc_id < 100),
       |w AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM alltok),
       |$minhashBandCtes""".stripMargin

  /** DuckDB regex note: RE2 syntax; '\\s' etc. are literal backslashes in
    * single-quoted SQL strings (DuckDB does not process escapes). */
  /** NB scoring oracle, shared by p40 (per-doc scores) and p46 (the
    * precision/recall sweep over the same scores). */
  private val nbClassifierOracle: String =
    """WITH d AS (SELECT doc_id, text, (text LIKE '%spark%') AS y FROM documents),
          |w0 AS (SELECT doc_id, y, list_filter(
          |         string_split_regex(lower(trim(text)), '\s+'),
          |         x -> len(x) > 0) AS ws FROM d),
          |tw AS (SELECT y, unnest(ws) AS w FROM w0),
          |cw AS (SELECT w, sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS c1,
          |              sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS c0
          |       FROM tw GROUP BY w),
          |tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM cw),
          |pri AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS d1,
          |               sum(CASE WHEN y THEN 0 ELSE 1 END) AS d0 FROM d),
          |odds AS (SELECT w, ln((c1 + 1)::DOUBLE / (n1 + v)::DOUBLE)
          |                 - ln((c0 + 1)::DOUBLE / (n0 + v)::DOUBLE) AS o
          |         FROM cw CROSS JOIN tot),
          |sw AS (SELECT doc_id, unnest(ws) AS w FROM w0),
          |sc AS (SELECT sw.doc_id, count(*)::BIGINT AS n_tok,
          |         sum(coalesce(odds.o,
          |           ln((n0 + v)::DOUBLE) - ln((n1 + v)::DOUBLE))) AS s
          |       FROM sw CROSS JOIN tot LEFT JOIN odds USING (w)
          |       GROUP BY sw.doc_id)
          |SELECT d.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
          |  round(ln(d1::DOUBLE) - ln(d0::DOUBLE) + coalesce(sc.s, 0.0), 6)
          |    AS score6,
          |  (round(ln(d1::DOUBLE) - ln(d0::DOUBLE) + coalesce(sc.s, 0.0), 6)
          |    > 0) AS predicted
          |FROM d CROSS JOIN pri LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin

  val all: Seq[Query] = Seq(

    Query("p01_dedup_exact",
      """WITH dd AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id, text FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50) s)
        |SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       count(*) AS n, min(doc_id) AS keep_id
        |FROM dd GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,
      floor = true) { t =>
      val docs = t("documents")
      val withDups = docs.unionByName(docs.orderBy("doc_id").limit(50))
      Dedup.exactDupGroups(withDups, "doc_id", "text").orderBy("fp")
    },

    Query("p02_fingerprint",
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      t("documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    Query("p03_token_counts",
      """SELECT doc_id,
        | len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0))::BIGINT AS n_ws,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS n_bpe,
        | length(text)::BIGINT AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      t("documents").select(
          col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          TextAnalysis.charCount(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id")
    },

    Query("p04_quality",
      """WITH base AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|you|for)\b'))::BIGINT AS n_stop,
        |  len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE AS n_punct,
        |  len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE AS n_alpha,
        |  length(text) AS n_chars
        | FROM documents)
        |SELECT doc_id, n_stop,
        | n_punct / nullif(n_chars, 0)::DOUBLE AS punct_ratio,
        | n_alpha / nullif(n_chars, 0)::DOUBLE AS alpha_ratio,
        | list_aggregate(list_transform(ws, w -> len(w)), 'sum')::DOUBLE / nullif(len(ws), 0)::DOUBLE AS mean_word_len,
        | COALESCE(
        |   least(len(ws)::DOUBLE / 100.0, 1.0) * 0.5
        |   + least((n_stop::DOUBLE / nullif(len(ws), 0)::DOUBLE) * 5.0, 1.0) * 0.3
        |   + (1.0 - least((n_punct / nullif(n_chars, 0)::DOUBLE) * 5.0, 1.0)) * 0.2, 0.0) AS quality
        |FROM base ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      t("documents").select(
          col("doc_id"),
          TextAnalysis.stopwordCount(col("text")).cast("long").as("n_stop"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
          TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    Query("p05_langid", {
      val scores = Seq(
        "en" -> "\\b(the|and|of|to|in|is|that|it|you|for)\\b",
        "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein|ich|auf)\\b",
        "fr" -> "\\b(le|la|et|les|des|une|est|que|pour|dans)\\b",
        "es" -> "\\b(el|los|de|que|y|en|un|se|no|por)\\b")
        .map { case (l, re) => s"len(regexp_extract_all(lower(text), '$re')) AS s_$l" }
        .mkString(", ")
      """WITH sc AS (SELECT doc_id, lang, SCORES,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh FROM documents),
        |m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS mx FROM sc)
        |SELECT doc_id, lang,
        | CASE WHEN s_en = mx AND s_en > 0 THEN 'en'
        |      WHEN s_de = mx AND s_de > 0 THEN 'de'
        |      WHEN s_fr = mx AND s_fr > 0 THEN 'fr'
        |      WHEN s_es = mx AND s_es > 0 THEN 'es'
        |      WHEN s_zh = mx AND s_zh > 0 THEN 'zh'
        |      ELSE 'und' END AS predicted
        |FROM m ORDER BY doc_id""".stripMargin.replace("SCORES", scores)
    }, floor = true) { t =>
      t("documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .orderBy("doc_id")
    },

    Query("p06_ngram_jaccard",
      // identical frequent-shingle cap (df > 50 dropped from the sets)
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
        |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
        |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM keep)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common, x.n AS n_a, y.n AS n_b,
        | CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
        |FROM cm JOIN sz x ON cm.id_a = x.doc_id JOIN sz y ON cm.id_b = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
      floor = true) { t =>
      // maxDocFreq caps posting-list blowup (cost ∝ Σ list²) — the oracle
      // applies the identical cap, so the checked path IS the scale path
      Dedup.jaccardPairs(t("documents"), "doc_id", "text", k = 3,
          minJaccard = 0.3, maxDocFreq = 50)
        .orderBy("id_a", "id_b")
    },

    Query("p07_minhash_sigs", {
      // windowed md5 family: sig_j = hex window (j%4) of md5('<j/4>:'||s)
      val sig = (0 until 4).map(j =>
        s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
        .mkString(",\n ")
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ws FROM documents),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w)
         |SELECT doc_id, $sig FROM shl ORDER BY doc_id""".stripMargin
    }, floor = true) { t =>
      Dedup.minhashSignatures(t("documents"), "doc_id", "text", shingleK = 3, numHashes = 4)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "sig_0", "sig_1", "sig_2", "sig_3")
        .orderBy("doc_id")
    },

    Query("p08_minhash_candidates",
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,
      floor = true) { t =>
      // Md5Portable so the DuckDB oracle reproduces signatures exactly;
      // XxFast (native codegen'd hash) is the benched production family
      Dedup.minhashCandidatePairs(t("documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .orderBy("id_a", "id_b")
    },

    Query("p09_simhash", {
      s"""WITH w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |  x -> len(x) > 0)) AS word FROM documents WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin
    }, floor = true) { t =>
      // 64-bit fingerprint (Manku-style width — birthday-safe at 10⁹ docs);
      // per-row expression form, documented narrow-selection use
      t("documents").where(col("doc_id") < 100)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    Query("p10_dedup_groups",
      // connected components = transitive min-label closure over the same
      // candidate graph, as a recursive CTE (UNION semantics terminate it)
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (SELECT id_a AS src, id_b AS dst FROM cand
         |       UNION ALL SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node)
         |SELECT node AS doc_id, min(lab) AS component FROM reach
         |GROUP BY node ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // LSH dedup GROUPS via bipartite min-label propagation — NO candidate
      // pairs materialized (cost ∝ docs×bands, never Σ bucket²). The oracle
      // still computes the pair graph + recursive closure: identical
      // connectivity proves the algorithms agree.
      Dedup.minhashComponents(t("documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    Query("p11_split_stats",
      """WITH u AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT CASE WHEN uh < 0.8 THEN 'train' WHEN uh < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       lang, count(*) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      floor = true) { t =>
      // deterministic train/val/test assignment: per-(split, lang) counts —
      // reproducible across engines, runs and corpus growth
      t("documents")
        .withColumn("split", Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },

    Query("p14_token_budget",
      """WITH u AS (SELECT doc_id, lang,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS n_bpe,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT CASE WHEN uh < 0.8 THEN 'train' WHEN uh < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs, sum(n_bpe)::BIGINT AS n_tokens
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      floor = true) { t =>
      // training-run planning: token budget per (split, lang) — BPE-proxy
      // token counts summed under the deterministic split assignment
      t("documents")
        .withColumn("split", Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCountBpe(col("text")).cast("long")).as("n_tokens"))
        .orderBy("split", "lang")
    },

    Query("p12_contamination",
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
        |tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id >= 20),
        |be AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20)
        |SELECT train_id, bench_id, count(*) AS n_common
        |FROM tr JOIN be USING (s)
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY train_id, bench_id""".stripMargin,
      floor = true) { t =>
      // decontamination: docs ≥ 20 checked against the 'benchmark' docs < 20
      val docs = t("documents")
      Dedup.contaminationPairs(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", k = 3, minCommon = 5)
        .orderBy("train_id", "bench_id")
    },

    Query("p13_pii_redaction", {
      import graft.pipeline.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH all_docs AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT * FROM (VALUES
         |  (900001, 'contact me at alice@example.com or bob.smith+spam@mail.co.uk thanks'),
         |  (900002, 'server at 10.0.0.1 and 192.168.1.254 responded'),
         |  (900003, 'call +1 555 123 4567 today'),
         |  (900004, 'clean text, nothing to redact')) AS t(doc_id, text)),
         |c AS (SELECT doc_id,
         | len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_email,
         | len(regexp_extract_all(text, '$Ipv4Re'))::BIGINT AS n_ipv4,
         | len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phone,
         | regexp_replace(regexp_replace(regexp_replace(text,
         |   '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM all_docs)
         |SELECT * FROM c WHERE n_email + n_ipv4 + n_phone > 0 ORDER BY doc_id""".stripMargin
    }, floor = true) { t =>
      import t.spark.implicits._
      // PII-bearing fixtures ride along with the corpus so the scrub is
      // demonstrably end-to-end (the synthetic docs are PII-free)
      val fixtures = Seq(
        (900001L, "contact me at alice@example.com or bob.smith+spam@mail.co.uk thanks"),
        (900002L, "server at 10.0.0.1 and 192.168.1.254 responded"),
        (900003L, "call +1 555 123 4567 today"),
        (900004L, "clean text, nothing to redact"))
      val corpus = t("documents").select(col("doc_id"), col("text"))
        .unionByName(fixtures.toDF("doc_id", "text"))
      corpus.select(Seq(col("doc_id")) ++ TextAnalysis.piiCounts(col("text")) :+
          TextAnalysis.redactPii(col("text")).as("redacted"): _*)
        .where(col("n_email") + col("n_ipv4") + col("n_phone") > 0)
        .orderBy("doc_id")
    },

    Query("p15_repetition",
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws FROM documents),
        |base AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
        |  round(1.0 - len(list_distinct(ws))::DOUBLE / nullif(len(ws), 0)::DOUBLE, 6) AS dup_word_frac,
        |  list_transform(range(1, greatest(len(ws) - 1, 0) + 1), i -> ws[i] || ' ' || ws[i+1]) AS bi
        | FROM w),
        |g AS (SELECT doc_id, unnest(bi) AS g FROM base),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c)::BIGINT AS top_bigram_n, sum(c)::BIGINT AS n_bigrams FROM cnt GROUP BY 1)
        |SELECT b.doc_id, n_words, dup_word_frac, top_bigram_n, n_bigrams,
        |  round(top_bigram_n::DOUBLE / nullif(n_bigrams, 0)::DOUBLE, 6) AS top_bigram_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // Gopher-style repetition gates: duplicate-word fraction (per-row) +
      // most-frequent-bigram fraction (explode-agg over the bigram multiset)
      pipeline.TextAnalysis.repetitionSignals(t("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("dup_word_frac"),
          col("top_bigram_n"), col("n_bigrams"), col("top_bigram_frac"))
        .orderBy("doc_id")
    },

    Query("p16_quality_gates", {
      val scores = Seq(
        "en" -> "\\b(the|and|of|to|in|is|that|it|you|for)\\b",
        "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein|ich|auf)\\b",
        "fr" -> "\\b(le|la|et|les|des|une|est|que|pour|dans)\\b",
        "es" -> "\\b(el|los|de|que|y|en|un|se|no|por)\\b")
        .map { case (l, re) => s"len(regexp_extract_all(lower(text), '$re')) AS s_$l" }
        .mkString(", ")
      """WITH base AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws,
        |  len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0)::DOUBLE AS alpha_ratio
        | FROM documents),
        |sig AS (SELECT doc_id, text, len(ws) AS n_words,
        |  1.0 - len(list_distinct(ws))::DOUBLE / nullif(len(ws), 0)::DOUBLE AS dupf, alpha_ratio
        | FROM base),
        |sc AS (SELECT doc_id, SCORES,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh FROM sig),
        |m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS mx FROM sc),
        |lang AS (SELECT doc_id,
        | CASE WHEN s_en = mx AND s_en > 0 THEN 'en'
        |      WHEN s_de = mx AND s_de > 0 THEN 'de'
        |      WHEN s_fr = mx AND s_fr > 0 THEN 'fr'
        |      WHEN s_es = mx AND s_es > 0 THEN 'es'
        |      WHEN s_zh = mx AND s_zh > 0 THEN 'zh'
        |      ELSE 'und' END AS predicted FROM m)
        |SELECT sig.doc_id,
        | CASE WHEN COALESCE(n_words, 0) < 5 THEN 'too_short'
        |      WHEN COALESCE(dupf, 0) > 0.2 THEN 'repetitive'
        |      WHEN predicted = 'und' THEN 'no_lang'
        |      WHEN COALESCE(alpha_ratio, 0) < 0.5 THEN 'low_alpha'
        |      ELSE 'keep' END AS verdict
        |FROM sig JOIN lang ON sig.doc_id = lang.doc_id ORDER BY sig.doc_id""".stripMargin
        .replace("SCORES", scores)
    }, floor = true) { t =>
      // corpus-cleaning decision column: first failing gate in fixed order
      // (too_short → repetitive → no_lang → low_alpha), else keep — the
      // composition of the p04/p05/p15-pinned signals a pipeline filters on
      t("documents")
        .select(col("doc_id"), TextAnalysis.gateVerdict(col("text")).as("verdict"))
        .orderBy("doc_id")
    },

    Query("p20_stratified_sample",
      """WITH u AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('split0:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS uh
        | FROM documents)
        |SELECT lang, count(*) AS n_kept FROM u
        |WHERE uh < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.1 ELSE 0.9 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
      floor = true) { t =>
      // per-stratum deterministic downsampling (boilerplate-heavy strata
      // sampled harder): pure id-hash projection, stable under corpus
      // growth; per-lang kept counts as evidence
      Sampling.stratifiedSample(t("documents"), "lang", "doc_id",
          rates = Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.9)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    },

    Query("p19_simhash_neardup", {
      // 4×16-bit bands over the 64-bit fingerprint; arithmetic >> then
      // mask 65535 is sign-safe for the top band in both engines
      val bandVals = (0 until 4).map(b => s"(simhash >> ${16 * b}) & 65535").mkString(", ")
      s"""WITH all_docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200),
         |w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |  x -> len(x) > 0)) AS word FROM all_docs),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v),
         |bands AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS b,
         |          unnest([$bandVals]) AS bv FROM sh),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |          x.simhash AS sa, y.simhash AS sb
         |         FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin
    }, floor = true) { t =>
      // 64-bit SimHash fingerprint → 4×16-bit-band candidates → exact
      // Hamming ≤ 3: pigeonhole (4 bands, ≤3 differing bits) makes recall
      // exact, and 65,536 buckets/band keeps Σ|bucket|² ≈ N²/65,536 — the
      // corpus-scale form (Manku et al., WWW'07). True dups injected for a
      // slice (text copied at id+100000 → hamming 0).
      val docs = t("documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 200)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.simhashNearDupPairs64(docs.unionByName(dup), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    },

    Query("p21_vocab_apply",
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |vc AS (SELECT token, count(*) AS n
        |       FROM (SELECT unnest(ws) AS token FROM d) GROUP BY token
        |       ORDER BY n DESC, token LIMIT 200),
        |vocab AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1) AS tid FROM vc),
        |tok AS (SELECT doc_id, unnest(ws) AS token,
        |        unnest(range(1, len(ws) + 1)) AS pos FROM d),
        |m AS (SELECT t.doc_id, t.pos, coalesce(v.tid, -1) AS tid, v.tid IS NULL AS oov
        |      FROM tok t LEFT JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tok,
        |        sum(CASE WHEN oov THEN 1 ELSE 0 END) AS n_oov,
        |        sum(pos * tid) AS checksum FROM m GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        | coalesce(n_oov, 0)::BIGINT AS n_oov,
        | round(CASE WHEN coalesce(n_tok, 0) = 0 THEN 0
        |       ELSE n_oov::DOUBLE / n_tok::DOUBLE END, 6) AS oov_rate6,
        | coalesce(checksum, 0)::BIGINT AS checksum
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
      floor = true) { t =>
      // tokenize against a corpus-derived top-200 vocab (broadcast join,
      // one reassembly shuffle), OOV → -1; the position-weighted checksum
      // pins the exact id SEQUENCE in a scalar the oracle reproduces
      val docs = t("documents")
      val vocab = Vocab.buildVocabulary(docs, "text", topN = 200)
      Vocab.applyVocabulary(docs, "doc_id", "text", vocab, oovId = Some(-1L))
        .select(col("id").as("doc_id"), col("n_tok"), col("n_oov"),
          when(col("n_tok") === 0, lit(0.0))
            .otherwise(round(col("n_oov").cast("double") / col("n_tok").cast("double"), 6))
            .as("oov_rate6"),
          Vocab.idChecksum(col("token_ids")).as("checksum"))
        .orderBy("doc_id")
    },

    Query("p28_dedup_keepers",
      // components via the same recursive closure as p10; quality via the
      // same expression as p04; keeper = row_number over (quality DESC, id)
      s"""WITH RECURSIVE $minhashPairCtes,
         |bi AS (SELECT id_a AS src, id_b AS dst FROM cand
         |       UNION ALL SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT src AS node, src AS lab FROM bi
         |  UNION
         |  SELECT bi.dst, reach.lab FROM reach JOIN bi ON bi.src = reach.node),
         |comp AS (SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node),
         |qb AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS qws,
         |  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|you|for)\\b'))::BIGINT AS qn_stop,
         |  len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE AS qn_punct,
         |  length(text) AS qn_chars
         | FROM documents),
         |q AS (SELECT doc_id, COALESCE(
         |  least(len(qws)::DOUBLE / 100.0, 1.0) * 0.5
         |  + least((qn_stop::DOUBLE / nullif(len(qws), 0)::DOUBLE) * 5.0, 1.0) * 0.3
         |  + (1.0 - least((qn_punct / nullif(qn_chars, 0)::DOUBLE) * 5.0, 1.0)) * 0.2, 0.0) AS quality
         | FROM qb),
         |j AS (SELECT c.component, c.doc_id, q.quality
         |      FROM comp c JOIN q USING (doc_id)),
         |r AS (SELECT component, doc_id, quality,
         |  row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY component) AS group_size FROM j)
         |SELECT component, doc_id AS keep_id, quality AS keep_score, group_size
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,
      floor = true) { t =>
      // keep-best-per-group: dedup GROUPS (bipartite min-label) × quality
      // score → one representative per group (highest quality, ties to the
      // smallest id) — the decision a cleaning pipeline actually ships
      val docs = t("documents")
      val comps = Dedup.minhashComponents(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Dedup.groupRepresentatives(comps, scored, "doc_id", "quality")
        .orderBy("component")
    },

    Query("p32_vocab_packing",
      // p21's vocab/apply CTEs feeding p23's global prefix-sum window —
      // the composed twin of the two gated stages
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |vc AS (SELECT token, count(*) AS n
        |       FROM (SELECT unnest(ws) AS token FROM d) GROUP BY token
        |       ORDER BY n DESC, token LIMIT 200),
        |vocab AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1) AS tid FROM vc),
        |tok AS (SELECT doc_id, unnest(ws) AS token,
        |        unnest(range(1, len(ws) + 1)) AS pos FROM d),
        |m AS (SELECT t.doc_id, t.pos, coalesce(v.tid, -1) AS tid
        |      FROM tok t LEFT JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, count(*) AS n_tok, sum(pos * tid) AS checksum FROM m GROUP BY doc_id),
        |seqs AS (SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        |         coalesce(checksum, 0)::BIGINT AS checksum
        |         FROM d LEFT JOIN agg USING (doc_id)),
        |c AS (SELECT doc_id, n_tok, checksum,
        |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM seqs)
        |SELECT doc_id, n_tok, (cb // 1024)::BIGINT AS start_bin,
        | (cb % 1024)::BIGINT AS bin_offset,
        | (CASE WHEN n_tok = 0 THEN 0
        |  ELSE (cb + n_tok - 1) // 1024 - cb // 1024 + 1 END)::BIGINT AS bins_spanned,
        | checksum
        |FROM c ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      // END-TO-END pretraining layout: corpus vocab (p21's build) →
      // token-id sequences (p21's apply, OOV=-1) → concat-and-cut packing
      // (p23's distributed prefix sum) — composed in ONE query so the
      // stage JOINS are oracle-pinned (an off-by-one between n_tok and the
      // packed layout cannot hide); checksum pins each doc's exact id
      // sequence through the chain
      val docs = t("documents")
      val vocab = Vocab.buildVocabulary(docs, "text", topN = 200)
      val ids = Vocab.applyVocabulary(docs, "doc_id", "text", vocab, oovId = Some(-1L))
      Packing.packSequences(ids, "id", "n_tok", budget = 1024L)
        .join(ids.select(col("id"), Vocab.idChecksum(col("token_ids")).as("checksum")), "id")
        .select(col("id").as("doc_id"), col("n_tok"), col("start_bin"),
          col("bin_offset"), col("bins_spanned"), col("checksum"))
        .orderBy("doc_id")
    },

    Query("p29_token_minhash",
      s"""WITH $tokenMinhashPairCtes
         |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin,
      floor = true) { t =>
      // MinHash LSH candidates over the PRE-TOKENIZED corpus (array<int>
      // tokens — the north-rule table's native shape): token-id shingles
      // feed the same k-min/band machinery, no text reconstruction. True
      // dups injected (token arrays copied at id+100000).
      val toks = tokenizedDocs(t).select("doc_id", "tokens")
      val dup = toks.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.minhashCandidatePairsTokens(toks.unionByName(dup), "doc_id", "tokens",
          shingleK = 3, numHashes = 16, bands = 8, family = Dedup.Md5Portable)
        .orderBy("id_a", "id_b")
    },

    Query("p33_token_jaccard",
      s"""WITH $tokenizedDocsCte,
         |w AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tokd),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  range(1, greatest(len(ws) - 2, 0) + 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
         |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
         |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM keep)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |cm AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, x.n AS n_a, y.n AS n_b,
         | CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
         |FROM cm JOIN sz x ON cm.id_a = x.doc_id JOIN sz y ON cm.id_b = y.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
      floor = true) { t =>
      // n-gram Jaccard in the token domain (df cap exercised, same shape
      // as p06): the inverted-index/cap machinery shared with the text
      // family, terms = token-id shingles
      Dedup.jaccardPairsTokens(tokenizedDocs(t), "doc_id", "tokens", k = 3,
          minJaccard = 0.3, maxDocFreq = 50)
        .orderBy("id_a", "id_b")
    },

    Query("p30_token_block_dedup",
      s"""WITH $tokenizedDocsCte,
         |d AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tokd),
         |b AS (SELECT doc_id, i AS bidx,
         |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
         | FROM d CROSS JOIN unnest(range(0, len(ws) // 10)) t(i)),
         |r AS (SELECT doc_id, bidx,
         |  row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, bidx) AS rn FROM b)
         |SELECT doc_id, count(*) AS n_blocks,
         | sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_blocks,
         | round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS dup_frac6
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // corpus-wide block dedup in the token domain: 10-token blocks,
      // first-occurrence-wins, same skew-immune two-phase plan as p22
      Dedup.blockDedupStatsTokens(tokenizedDocs(t), "doc_id", "tokens", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_dup_blocks"),
          round(col("dup_frac"), 6).as("dup_frac6"))
        .orderBy("doc_id")
    },

    Query("p31_token_simhash",
      s"""WITH $tokenizedDocsCte,
         |w AS (SELECT doc_id, unnest(list_transform(tokens, t -> t::VARCHAR)) AS word
         |      FROM tokd WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5('0:' || word), 1, 8))::BIGINT AS hi,
         |                     ('0x' || substr(md5('0:' || word), 9, 8))::BIGINT AS lo FROM w),
         |v AS (SELECT doc_id, $simhash64Votes FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($simhash64Fp AS BIGINT) AS simhash FROM v ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // 64-bit SimHash fingerprints with token ids as terms — the
      // explode-agg corpus path over the pre-tokenized table
      Dedup.simhashSignatures64Tokens(
          tokenizedDocs(t).where(col("doc_id") < 100), "doc_id", "tokens")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    Query("p27_domain_filter",
      """WITH docs(doc_id, text) AS (VALUES
        |  (1, 'see https://spam.example/page and http://ok.org/x'),
        |  (2, 'links http://sub.spam.example:8080/y https://news.ok.org'),
        |  (3, 'no urls at all'),
        |  (4, 'HTTPS://OK.ORG mixed case http://a.b.spam.example/z'),
        |  (5, 'bare host spam.example without scheme')),
        |blocked(domain) AS (VALUES ('spam.example')),
        |h AS (SELECT doc_id, unnest(list_transform(
        |  regexp_extract_all(lower(text), 'https?://([^/\s]+)', 1),
        |  x -> string_split(x, ':')[1])) AS host FROM docs),
        |d AS (SELECT doc_id, host,
        |  CASE WHEN len(string_split(host, '.')) >= 2
        |    THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |    ELSE host END AS domain FROM h),
        |m AS (SELECT doc_id, domain IN (SELECT domain FROM blocked) AS blk FROM d),
        |agg AS (SELECT doc_id, count(*) AS n_urls,
        |        sum(CASE WHEN blk THEN 1 ELSE 0 END) AS nb FROM m GROUP BY doc_id)
        |SELECT docs.doc_id::BIGINT AS doc_id, coalesce(n_urls, 0)::BIGINT AS n_urls,
        | coalesce(nb, 0)::BIGINT AS n_blocked_urls, coalesce(nb, 0) > 0 AS blocked
        |FROM docs LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // C4-style URL/domain blocklist filtering on inline fixtures (the
      // corpus tables carry no URLs): host extraction with port stripping,
      // registered-domain reduction, broadcast blocklist semi-count
      val docs = Seq(
        (1L, "see https://spam.example/page and http://ok.org/x"),
        (2L, "links http://sub.spam.example:8080/y https://news.ok.org"),
        (3L, "no urls at all"),
        (4L, "HTTPS://OK.ORG mixed case http://a.b.spam.example/z"),
        (5L, "bare host spam.example without scheme")).toDF("doc_id", "text")
      val blocked = Seq("spam.example").toDF("domain")
      TextAnalysis.domainFilter(docs, "doc_id", "text", blocked)
        .select(col("id").as("doc_id"), col("n_urls"), col("n_blocked_urls"), col("blocked"))
        .orderBy("doc_id")
    },

    Query("p34_url_dedup",
      // identical canonicalization steps: scheme off, host lowered with
      // www./port stripped, query/fragment off, trailing slashes trimmed
      """WITH urls(doc_id, url) AS (VALUES
        |  (1, 'https://WWW.Example.com:443/a/b/?utm=1#frag'),
        |  (2, 'http://example.com/a/b'),
        |  (3, 'https://example.com/a/b/'),
        |  (4, 'http://other.org'),
        |  (5, 'HTTP://www.other.org/'),
        |  (6, NULL),
        |  (7, 'ftp://example.com/a/b'),
        |  (8, 'http://example.com/a/b?x=1&y=2')),
        |s1 AS (SELECT doc_id,
        |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS ns FROM urls),
        |s2 AS (SELECT doc_id, ns, string_split(ns, '/')[1] AS hostraw FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(string_split(lower(hostraw), ':')[1], '^www\.', '') AS host,
        |  substr(ns, length(hostraw) + 1) AS pathraw FROM s2),
        |n AS (SELECT urls.doc_id::BIGINT AS doc_id,
        |  CASE WHEN urls.url IS NULL THEN NULL ELSE
        |    s3.host || regexp_replace(
        |      string_split(string_split(s3.pathraw, '?')[1], '#')[1], '/+$', '')
        |  END AS url_norm
        | FROM urls LEFT JOIN s3 USING (doc_id)),
        |w AS (SELECT url_norm, min(doc_id) AS keep_id FROM n
        |      WHERE url_norm IS NOT NULL GROUP BY 1)
        |SELECT n.doc_id, n.url_norm,
        | coalesce(w.keep_id, n.doc_id)::BIGINT AS keep_id,
        | n.doc_id = coalesce(w.keep_id, n.doc_id) AS keep
        |FROM n LEFT JOIN w USING (url_norm) ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      import t.spark.implicits._
      // C4-style URL-keyed dedup on inline fixtures (the corpus carries no
      // URL column): scheme-agnostic canonicalization (www./port/query/
      // fragment/trailing-slash stripped, host lowercased), lowest-id
      // keeper per canonical URL, NULL urls keep themselves
      val urls = Seq(
        (1L, "https://WWW.Example.com:443/a/b/?utm=1#frag"),
        (2L, "http://example.com/a/b"),
        (3L, "https://example.com/a/b/"),
        (4L, "http://other.org"),
        (5L, "HTTP://www.other.org/"),
        (6L, null.asInstanceOf[String]),
        (7L, "ftp://example.com/a/b"),
        (8L, "http://example.com/a/b?x=1&y=2")).toDF("doc_id", "url")
      TextAnalysis.urlDedup(urls, "doc_id", "url")
        .select(col("id").as("doc_id"), col("url_norm"), col("keep_id"), col("keep"))
        .orderBy("doc_id")
    },

    Query("p26_temperature_mixture",
      // z summed over lang-sorted weights (list_aggregate of an ORDERed
      // list) so the float fold matches the driver's sorted fold exactly
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |z AS (SELECT list_aggregate(list(sqrt(c::DOUBLE) ORDER BY lang), 'sum') AS z FROM c),
        |rates AS (SELECT lang,
        |  round(least(1.0, sqrt(c::DOUBLE) / z * 300 / c::DOUBLE), 6) AS rate
        | FROM c CROSS JOIN z)
        |SELECT d.lang, count(*) AS n_kept
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE ('0x' || substr(md5('split0:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
        |      / 4294967296.0 < r.rate
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
      floor = true) { t =>
      // multinomial source rebalancing: keep-rates ∝ c^α·budget/c at
      // α = 0.5 (IEEE sqrt — bit-reproducible in both engines), rounded to
      // 6 decimals, applied as the deterministic id-hash threshold
      Sampling.temperatureSample(t("documents"), "lang", "doc_id",
          alpha = 0.5, totalBudget = 300L)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    },

    Query("p25_drop_repeated_blocks",
      """WITH d0 AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |rep AS (SELECT doc_id,
        |  array_to_string(ws[1:10], ' ') AS f10,
        |  array_to_string(ws, ' ') AS orig FROM d0),
        |d AS (SELECT doc_id, list_filter(string_split_regex(
        |  lower(trim(f10 || ' ' || f10 || ' ' || f10 || ' ' || orig)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM rep),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, (len(ws) + 9) // 10)) t(i)),
        |r AS (SELECT doc_id, bidx, block,
        |  row_number() OVER (PARTITION BY doc_id, block ORDER BY bidx) AS rn FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        | sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_blocks_kept,
        | md5(string_agg(block, ' ' ORDER BY bidx) FILTER (WHERE rn = 1)) AS clean_fp
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // transformation leg of repetition cleaning: each doc is prefixed
      // with THREE copies of its own first-10-word block (guaranteed
      // aligned repeats), then in-doc block dedup reassembles the text —
      // the oracle pins the exact reconstructed string via md5
      val ws = TextAnalysis.words(col("text"))
      val f10 = array_join(slice(ws, 1, 10), " ")
      val docs = t("documents")
        .select(col("doc_id"),
          concat_ws(" ", f10, f10, f10, array_join(ws, " ")).as("text"))
      Dedup.dropRepeatedBlocksInDoc(docs, "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_blocks_kept"),
          md5(col("clean_text").cast("binary")).as("clean_fp"))
        .orderBy("doc_id")
    },

    Query("p24_bigram_nll",
      """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM documents),
        |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bi, ws[i] AS w1
        |       FROM d CROSS JOIN unnest(range(1, len(ws))) t(i)),
        |bc AS (SELECT bi, count(*) AS c12 FROM bi GROUP BY bi),
        |uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS V FROM
        |       (SELECT unnest(ws) AS w FROM d)),
        |s AS (SELECT doc_id,
        |       -log2((c12 + 1)::DOUBLE / (c1 + V)::DOUBLE) AS nll
        |      FROM bi JOIN bc USING (bi) JOIN uc USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS nll6
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // corpus-trained bigram-LM quality score (CCNet-style perplexity
      // proxy): add-one smoothed p(w2|w1), mean neg-log2 per doc
      TextAnalysis.bigramNll(t("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("nll6"))
        .orderBy("doc_id")
    },

    Query("p22_block_dedup",
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100),
        |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM all_docs),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, len(ws) // 10)) t(i)),
        |r AS (SELECT doc_id, bidx,
        |  row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, bidx) AS rn FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        | sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_blocks,
        | round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS dup_frac6
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // block-level exact dedup (RefinedWeb/CCNet line-dedup family):
      // 10-word blocks, corpus-wide first-occurrence-wins; injected copies
      // (ids +100000) make every copied block a duplicate
      val docs = t("documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.blockDedupStats(docs.unionByName(dup), "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_dup_blocks"),
          round(col("dup_frac"), 6).as("dup_frac6"))
        .orderBy("doc_id")
    },

    Query("p38_substring_dedup",
      s"""WITH $tokenizedDocsCte,
         |base AS (
         |  SELECT doc_id, tokens FROM tokd WHERE doc_id < 50
         |  UNION ALL SELECT doc_id + 100000 AS doc_id, tokens FROM tokd WHERE doc_id < 50
         |  UNION ALL SELECT doc_id + 200000 AS doc_id, tokens[6:41] AS tokens
         |    FROM tokd WHERE doc_id < 20 AND len(tokens) >= 41
         |  UNION ALL SELECT doc_id + 300000 AS doc_id,
         |    tokens[1:20] || list_transform(tokens[21:30], tk -> tk + 50000) || tokens[31:50] AS tokens
         |    FROM tokd WHERE doc_id < 20 AND len(tokens) >= 50),
         |d AS (SELECT doc_id, tokens, list_transform(tokens, t -> t::VARCHAR) AS ws FROM base),
         |g AS (SELECT doc_id, i::INT - 1 AS pos, md5(array_to_string(ws[i:i+14], ' ')) AS h
         |      FROM d CROSS JOIN unnest(range(1, greatest(len(ws) - 14, 0) + 1)) t(i)),
         |r AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |        count(*) OVER (PARTITION BY h) AS cnt FROM g),
         |cp AS (SELECT doc_id, unnest(range(pos, pos + 15)) AS cp
         |       FROM r WHERE cnt > 1 AND rn > 1),
         |cov AS (SELECT doc_id, list_sort(list(DISTINCT cp)) AS covered FROM cp GROUP BY doc_id),
         |j AS (SELECT d.doc_id, d.tokens, d.ws, coalesce(c.covered, []) AS covered
         |      FROM d LEFT JOIN cov c USING (doc_id))
         |SELECT doc_id, len(tokens)::BIGINT AS n_tok,
         | len(covered)::BIGINT AS n_dup_tokens,
         | (CASE WHEN len(covered) = 0 THEN 0
         |   ELSE 1 + len(list_filter(range(2, len(covered) + 1),
         |                i -> covered[i] > covered[i-1] + 1)) END)::BIGINT AS n_spans,
         | round(len(covered)::DOUBLE / len(tokens)::DOUBLE, 6) AS dup_frac,
         | md5(coalesce(array_to_string(list_transform(
         |   list_filter(range(1, len(tokens) + 1), i -> NOT list_contains(covered, i - 1)),
         |   i -> ws[i]), ' '), '')) AS clean_checksum
         |FROM j ORDER BY doc_id""".stripMargin,
      floor = false) { t =>
      // Lee-et-al-style exact SUBSTRING dedup over the pre-tokenized
      // corpus: any 15-token window seen earlier (total order: doc id,
      // offset) is erased; planted full copies (+100000) must come back
      // fully covered, planted 36-token excerpts (+200000) mostly covered,
      // originals untouched (they hold every winner); merged-span counts
      // and the md5 of each surviving token stream pin the transformation
      val toks = tokenizedDocs(t).select("doc_id", "tokens")
      val base = toks.where(col("doc_id") < 50)
      val copies = base.withColumn("doc_id", col("doc_id") + lit(100000L))
      val excerpts = toks
        .where(col("doc_id") < 20 && size(col("tokens")) >= 41)
        .select((col("doc_id") + lit(200000L)).as("doc_id"),
          slice(col("tokens"), 6, 36).as("tokens"))
      // two copied 20-token regions around a 10-token UNIQUE spacer
      // (ids +50000 — outside the mod-50000 vocab, so unique by
      // construction): partial coverage and the 2-span merge
      val franken = toks
        .where(col("doc_id") < 20 && size(col("tokens")) >= 50)
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          concat(slice(col("tokens"), 1, 20),
            transform(slice(col("tokens"), 21, 10), tk => tk + lit(50000)),
            slice(col("tokens"), 31, 20)).as("tokens"))
      Dedup.exactSubstringDedup(
          base.unionByName(copies).unionByName(excerpts).unionByName(franken),
          "doc_id", "tokens", L = 15)
        .select(col("id").as("doc_id"), col("n_tok").cast("long").as("n_tok"),
          col("n_dup_tokens").cast("long").as("n_dup_tokens"),
          col("n_spans").cast("long").as("n_spans"),
          col("dup_frac"), col("clean_checksum"))
        .orderBy("doc_id")
    },

    Query("p39_fuzzy_decontamination", {
      val sig = (0 until 16).map(j =>
        s"list_min(list_transform(sh, s -> ('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)) AS sig_$j")
        .mkString(",\n ")
      val bandList = (0 until 8).map(b =>
        s"md5(sig_${2 * b}::VARCHAR || ',' || sig_${2 * b + 1}::VARCHAR)").mkString(", ")
      val shingle3 = "list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1), " +
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"
      val agree = (0 until 16)
        .map(j => s"(CASE WHEN t.sig_$j = b.sig_$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $tokenizedDocsCte,
         |tr AS (SELECT doc_id, tokens FROM tokd WHERE doc_id < 300),
         |be AS (SELECT doc_id, tokens FROM tokd WHERE doc_id < 10
         |  UNION ALL SELECT doc_id, tokens[3:] AS tokens
         |    FROM tokd WHERE doc_id >= 10 AND doc_id < 20
         |  UNION ALL SELECT doc_id, list_transform(tokens, tk -> tk + 50000) AS tokens
         |    FROM tokd WHERE doc_id >= 20 AND doc_id < 30),
         |wt AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM tr),
         |wb AS (SELECT doc_id, list_transform(tokens, t -> t::VARCHAR) AS ws FROM be),
         |sht AS (SELECT doc_id, $shingle3 AS sh FROM wt),
         |shb AS (SELECT doc_id, $shingle3 AS sh FROM wb),
         |tsig AS (SELECT doc_id, $sig FROM sht),
         |bsig AS (SELECT doc_id, $sig FROM shb),
         |tband AS (SELECT doc_id AS train_id, unnest([$bandList]) AS bucket FROM tsig),
         |bband AS (SELECT doc_id AS bench_id, unnest([$bandList]) AS bucket FROM bsig),
         |cand AS (SELECT DISTINCT train_id, bench_id FROM tband JOIN bband USING (bucket))
         |SELECT train_id, bench_id, ($agree)::BIGINT AS n_agree,
         | round(($agree)::DOUBLE / 16.0, 6) AS est_jaccard
         |FROM cand JOIN tsig t ON cand.train_id = t.doc_id
         |          JOIN bsig b ON cand.bench_id = b.doc_id
         |WHERE ($agree) >= 8 ORDER BY train_id, bench_id""".stripMargin
    }, floor = true) { t =>
      // MinHash-LSH decontamination ACROSS corpora: planted bench docs are
      // exact copies (ids <10), near-copies with the first two tokens
      // dropped (10..19 — paraphrase-level leakage the exact check would
      // still catch but a lexical diff would miss), and token-shifted
      // CLEAN docs (20..29, +50000 ids — zero shared shingles, must NOT
      // pair); signature-agreement estimator gated at 8/16
      val toks = tokenizedDocs(t).select("doc_id", "tokens")
      val train = toks.where(col("doc_id") < 300)
      val bench = toks.where(col("doc_id") < 10)
        .unionByName(toks.where(col("doc_id") >= 10 && col("doc_id") < 20)
          .select(col("doc_id"),
            slice(col("tokens"), lit(3), size(col("tokens"))).as("tokens")))
        .unionByName(toks.where(col("doc_id") >= 20 && col("doc_id") < 30)
          .select(col("doc_id"),
            transform(col("tokens"), tk => tk + lit(50000)).as("tokens")))
      Dedup.fuzzyContaminationTokens(train, bench, "doc_id", "tokens",
          shingleK = 3, numHashes = 16, bands = 8, minAgree = 8)
        .orderBy("train_id", "bench_id")
    },

    Query("p40_nb_classifier", nbClassifierOracle, floor = true) { t =>
      // fastText-shaped corpus filter in closed form: multinomial Naive
      // Bayes (Laplace α=1) trained on a text-derived label (docs
      // mentioning 'spark'), every doc then scored against its own model
      // — the model is a counter TABLE (one row per distinct word, never
      // collected); the Zipf-skewed word-scoring join is AQE skew-join
      // territory; NB recovers the label at ~0.90 train accuracy
      val docs = t("documents")
      val train = docs.select(col("doc_id"), col("text"),
        col("text").like("%spark%").as("y"))
      Classifier.nbClassify(train, docs, "doc_id", "text", "y")
        .select(col("id").as("doc_id"), col("n_tok"), col("score6"),
          col("predicted"))
        .orderBy("doc_id")
    },

    Query("p46_classifier_pr",
      // precision/recall sweep over the SAME NB scoring (shared oracle
      // fragment) — counts are exact integers per threshold, ratios are
      // single-row divisions of exact ints
      s"""WITH lab AS (SELECT doc_id, (text LIKE '%spark%') AS y FROM documents),
         |j AS (SELECT b.score6, lab.y FROM ($nbClassifierOracle) b
         |      JOIN lab USING (doc_id)),
         |g AS (SELECT score6, y, thr FROM j CROSS JOIN unnest(range(-20, 25, 5)) u(thr)),
         |agg AS (SELECT thr,
         |  sum(CASE WHEN score6 >= thr AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
         |  sum(CASE WHEN score6 >= thr AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
         |  sum(CASE WHEN score6 < thr AND y THEN 1 ELSE 0 END)::BIGINT AS fn
         |  FROM g GROUP BY thr)
         |SELECT thr::BIGINT AS thr, tp, fp, fn,
         |  round(tp::DOUBLE / nullif((tp + fp)::DOUBLE, 0), 6) AS precision6,
         |  round(tp::DOUBLE / nullif((tp + fn)::DOUBLE, 0), 6) AS recall6
         |FROM agg ORDER BY thr""".stripMargin,
      floor = true) { t =>
      // classifier calibration sweep: exact confusion counts per threshold
      // over the p40 NB scores vs their own training labels — the
      // standard quality-filter tuning table (pick the threshold, read off
      // precision/recall). One scan + a 9-way literal explode + a counter
      // groupBy; ratios are single-row divisions of exact ints.
      val docs = t("documents")
      val train = docs.select(col("doc_id"), col("text"),
        col("text").like("%spark%").as("y"))
      val scored = Classifier.nbClassify(train, docs, "doc_id", "text", "y")
        .join(train.select(col("doc_id").as("id"), col("y")), "id")
      scored.select(col("score6"), col("y"),
          explode(typedLit((-20L to 20L by 5L).toSeq)).as("thr"))
        .groupBy("thr").agg(
          sum(when(col("score6") >= col("thr") && col("y"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("score6") >= col("thr") && !col("y"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("score6") < col("thr") && col("y"), 1L).otherwise(0L)).as("fn"))
        .select(col("thr"), col("tp"), col("fp"), col("fn"),
          round(col("tp").cast("double") /
            nullif((col("tp") + col("fp")).cast("double"), lit(0.0)), 6).as("precision6"),
          round(col("tp").cast("double") /
            nullif((col("tp") + col("fn")).cast("double"), lit(0.0)), 6).as("recall6"))
        .orderBy("thr")
    },

    Query("p41_tfidf_keywords",
      """WITH w0 AS (SELECT doc_id, unnest(list_filter(
        |         string_split_regex(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |       FROM w0 GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) AS score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE) DESC,
        |          term) AS rank
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, round(score, 6) AS score6,
        |  rank::BIGINT AS rank
        |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
      floor = true) { t =>
      // textbook tf·ln(N/df) keyword extraction, top-3 per doc with the
      // (score desc, term asc) tie-break both engines replay bit-identically;
      // tf/df are counter shuffles, the term join is Zipf/AQE, top-k is a
      // per-doc window
      TextAnalysis.tfidfKeywords(t("documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("score6"), col("rank"))
        .orderBy("doc_id", "rank")
    },

    Query("p42_dsir_weights",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tw AS (SELECT doc_id, unnest(list_filter(
        |         string_split_regex(lower(trim(text)), '\s+'),
        |         x -> len(x) > 0)) AS w FROM d),
        |bk AS (SELECT doc_id,
        |         ((('0x' || substr(md5('0:' || w), 1, 8))::BIGINT % 64))::INT AS b
        |       FROM tw),
        |tgt AS (SELECT bk.b, count(*)::BIGINT AS ct FROM bk JOIN d USING (doc_id)
        |        WHERE d.text LIKE '%vector%' GROUP BY bk.b),
        |raw AS (SELECT b, count(*)::BIGINT AS cr FROM bk GROUP BY b),
        |spine AS (SELECT unnest(range(64))::INT AS b),
        |c AS (SELECT spine.b, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |      FROM spine LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b)),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |lam AS (SELECT b, ln((ct + 1)::DOUBLE / (nt + 64)::DOUBLE)
        |               - ln((cr + 1)::DOUBLE / (nr + 64)::DOUBLE) AS lam
        |        FROM c CROSS JOIN tot),
        |sc AS (SELECT bk.doc_id, count(*)::BIGINT AS n_tok, sum(lam.lam) AS s
        |       FROM bk JOIN lam USING (b) GROUP BY bk.doc_id)
        |SELECT d.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
        |  round(coalesce(sc.s, 0.0), 6) AS log_weight6
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,
      floor = true) { t =>
      // DSIR importance resampling: hashed-unigram bucket model (64 buckets,
      // add-one smoothed), target = docs mentioning 'vector', raw = whole
      // corpus; the λ table is FIXED-SIZE → broadcast scorer, zero shuffle
      // beyond the per-doc counter rollup
      val docs = t("documents")
      Classifier.dsirWeights(docs.where(col("text").like("%vector%")), docs,
          docs, "doc_id", "text", nBuckets = 64)
        .select(col("id").as("doc_id"), col("n_tok"), col("log_weight6"))
        .orderBy("doc_id")
    },

    Query("p43_textrank", {
      // identical fixed-point rounds: base = 10^12 // N, contribution
      // (fp * w) // strength, damped update ((85 * Σ) // 100) — all
      // integer, so every intermediate matches the engine exactly
      val iters = 5
      val rounds = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS word, sum((s.fp * e.w) // str.st)::BIGINT AS c
           |  FROM edges e JOIN s${i - 1} s ON s.word = e.src
           |  JOIN str ON str.src = e.src GROUP BY e.dst),
           |s$i AS (SELECT nodes.word,
           |  ((((1000000000000 // nn.n) * 15) // 100)
           |    + (85 * coalesce(c$i.c, 0)) // 100)::BIGINT AS fp
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$i ON c$i.word = nodes.word)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0) AS ws FROM documents),
         |pr AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM d
         |  CROSS JOIN unnest(range(1, len(ws))) u(i) WHERE ws[i] <> ws[i + 1]),
         |e0 AS (SELECT a, b, count(*) AS n FROM pr GROUP BY a, b),
         |edges AS (SELECT src, dst, sum(n)::BIGINT AS w FROM (
         |    SELECT a AS src, b AS dst, n FROM e0
         |    UNION ALL SELECT b AS src, a AS dst, n FROM e0) ee GROUP BY src, dst),
         |str AS (SELECT src, sum(w)::BIGINT AS st FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS word FROM edges),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |s0 AS (SELECT word, (1000000000000 // nn.n)::BIGINT AS fp
         |       FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT rank, word, score_fp FROM (
         |  SELECT word, fp AS score_fp,
         |    (row_number() OVER (ORDER BY fp DESC, word))::BIGINT AS rank
         |  FROM s$iters) r WHERE rank <= 20 ORDER BY rank""".stripMargin
    }, floor = true) { t =>
      // TextRank corpus keywords: 5 damped PageRank rounds over the
      // symmetrized word-adjacency graph in exact BIGINT fixed-point
      // (10^12 mass units) — integer mult/div/sum only, so the iterative
      // scores are bit-identical on any shuffle order and the oracle
      // replays the identical rounds as chained CTEs
      graft.pipeline.Graph.textRank(t("documents"), "text",
        iters = 5, topK = 20)
        .orderBy("rank")
    },

    Query("p44_zipf_fit",
      """WITH w0 AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> len(x) > 0)) AS w FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS c FROM w0 GROUP BY w),
        |tot AS (SELECT count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_tokens FROM f),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank
        |        FROM (SELECT * FROM f ORDER BY c DESC, w LIMIT 100) z),
        |t2 AS (SELECT round(ln(rank::DOUBLE), 9) AS x,
        |              round(ln(c::DOUBLE), 9) AS y FROM top),
        |t3 AS (SELECT x, y, round(x * x, 9) AS xx, round(x * y, 9) AS xy FROM t2),
        |s AS (SELECT count(*)::DOUBLE AS r,
        |  sum(x::DECIMAL(28,12))::DOUBLE AS sx, sum(y::DECIMAL(28,12))::DOUBLE AS sy,
        |  sum(xx::DECIMAL(28,12))::DOUBLE AS sxx, sum(xy::DECIMAL(28,12))::DOUBLE AS sxy
        |  FROM t3)
        |SELECT n_types, n_tokens, r::BIGINT AS n_ranks,
        |  round((r * sxy - sx * sy) / (r * sxx - sx * sx), 6) AS slope6,
        |  round((sy - ((r * sxy - sx * sy) / (r * sxx - sx * sx)) * sx) / r, 6) AS intercept6
        |FROM tot CROSS JOIN s""".stripMargin,
      floor = true) { t =>
      // corpus-health Zipf diagnostic: ln-ln least squares over the top-100
      // word frequencies — per-row lns rounded to 9 (libm-ulp immunity),
      // regression sums in exact DECIMAL, final divisions mirrored
      // expression-for-expression by the oracle
      TextAnalysis.zipfFit(t("documents"), "text", topRanks = 100)
    },

    Query("p45_incremental_dedup",
      """WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 200000, text FROM documents
        |    WHERE doc_id % 3 <> 0 AND doc_id < 10
        |  UNION ALL SELECT doc_id + 300000, text FROM documents
        |    WHERE doc_id % 3 = 0 AND doc_id < 10),
        |fpx AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |        FROM ex),
        |fpi AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |        FROM inc),
        |fst AS (SELECT fp, min(doc_id) AS first_id FROM fpi GROUP BY fp),
        |cls AS (SELECT doc_id, fpi.fp AS fp,
        |  CASE WHEN fpi.fp IN (SELECT fp FROM fpx) THEN 'dup_existing'
        |       WHEN doc_id <> first_id THEN 'dup_incoming'
        |       ELSE 'new' END AS status
        |  FROM fpi JOIN fst ON fpi.fp = fst.fp)
        |SELECT doc_id, fp, status, (status = 'new') AS keep
        |FROM cls ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // snapshot-to-snapshot dedup (the daily-ingestion form): corpus =
      // doc_id % 3 != 0, batch = the rest, plus planted existing-copies
      // (+200000 → dup_existing) and batch-internal copies (+300000 →
      // dup_incoming); only the batch flows through the pipeline, the
      // corpus contributes its fingerprint index
      val docs = t("documents").select("doc_id", "text")
      val existing = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch0 = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = batch0
        .unionByName(existing.where(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + lit(200000L)))
        .unionByName(batch0.where(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + lit(300000L)))
      Dedup.incrementalDedup(existing, batch, "doc_id", "text")
        .select(col("id").as("doc_id"), col("fp"), col("status"), col("keep"))
        .orderBy("doc_id")
    },

    Query("p36_bpe_merges", {
      val k = 6
      val stages = (1 to k).map { i =>
        s"""p$i AS (SELECT l, r, sum(freq) AS n FROM (
           |  SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM
           |    (SELECT freq, regexp_extract_all(s, '⟨([^⟩]*)⟩', 1) AS syms FROM t${i - 1}) sy
           |    CROSS JOIN unnest(range(1, len(syms))) u(i)) pp GROUP BY l, r),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |t$i AS (SELECT replace(t${i - 1}.s, '⟨' || b.l || '⟩⟨' || b.r || '⟩',
           |                       '⟨' || b.l || b.r || '⟩') AS s, freq
           |        FROM t${i - 1} CROSS JOIN b$i b)""".stripMargin
      }.mkString(",\n")
      val union = (1 to k).map(i =>
        s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, n::BIGINT AS freq FROM b$i")
        .mkString("\nUNION ALL ")
      s"""WITH ww AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0)) AS w FROM documents),
         |w0 AS (SELECT w, count(*) AS freq FROM ww
         |       WHERE w NOT LIKE '%⟨%' AND w NOT LIKE '%⟩%' GROUP BY w),
         |t0 AS (SELECT '⟨' || array_to_string(
         |    list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩' AS s, freq FROM w0),
         |$stages
         |SELECT * FROM ($union) ORDER BY merge_rank""".stripMargin
    }, floor = true) { t =>
      // distributed BPE tokenizer TRAINING (Sennrich-style, word-type
      // weighted): 6 greedy merges; the oracle replays the identical
      // rounds as chained CTEs — same pair counting, (freq desc, lhs,
      // rhs) tie-break, and bracketed exact-replace rewrite
      Vocab.bpeMerges(t("documents"), "text", nMerges = 6)
        .orderBy("merge_rank")
    },

    Query("p37_bpe_segment", {
      val k = 6
      val stages = (1 to k).map { i =>
        s"""p$i AS (SELECT l, r, sum(freq) AS n FROM (
           |  SELECT freq, syms[i] AS l, syms[i + 1] AS r FROM
           |    (SELECT freq, regexp_extract_all(s, '⟨([^⟩]*)⟩', 1) AS syms FROM t${i - 1}) sy
           |    CROSS JOIN unnest(range(1, len(syms))) u(i)) pp GROUP BY l, r),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |t$i AS (SELECT replace(t${i - 1}.s, '⟨' || b.l || '⟩⟨' || b.r || '⟩',
           |                       '⟨' || b.l || b.r || '⟩') AS s, freq
           |        FROM t${i - 1} CROSS JOIN b$i b)""".stripMargin
      }.mkString(",\n")
      val bracketed =
        "'⟨' || array_to_string(list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩'"
      val chain = (1 to k).foldLeft(bracketed) { (acc, i) =>
        s"replace($acc, '⟨' || (SELECT l FROM b$i) || '⟩⟨' || (SELECT r FROM b$i) || '⟩', " +
          s"'⟨' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '⟩')"
      }
      s"""WITH ww AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0)) AS w FROM documents),
         |w0 AS (SELECT w, count(*) AS freq FROM ww
         |       WHERE w NOT LIKE '%⟨%' AND w NOT LIKE '%⟩%' GROUP BY w),
         |t0 AS (SELECT '⟨' || array_to_string(
         |    list_append(regexp_extract_all(w, '.'), '</w>'), '⟩⟨') || '⟩' AS s, freq FROM w0),
         |$stages,
         |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> len(x) > 0) AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS w,
         |        unnest(range(1, len(ws) + 1)) AS pos FROM d WHERE len(ws) > 0),
         |seg AS (SELECT doc_id, pos,
         |  regexp_extract_all($chain, '⟨([^⟩]*)⟩', 1) AS syms FROM tok)
         |SELECT doc_id, sum(len(syms))::BIGINT AS n_subtok,
         | md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS sub_md5
         |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }, floor = true) { t =>
      // train → segment composed: the corpus trains its own 6 merges,
      // then every document becomes its subword stream (scan-riding
      // replace chain, one reassembly groupBy); md5 pins each stream
      val docs = t("documents")
      val merges = Vocab.bpeMerges(docs, "text", nMerges = 6)
      Vocab.bpeSegment(docs, "doc_id", "text", merges)
        .select(col("id").as("doc_id"), col("n_subtok"),
          md5(array_join(col("subwords"), " ")).as("sub_md5"))
        .orderBy("doc_id")
    },

    Query("p35_block_dedup_apply",
      // tail-inclusive blocks (DuckDB list slicing clamps at the end like
      // Spark's slice), first occurrence per block under (doc_id, bidx),
      // ordered reassembly; dedup keys on the block TEXT (the engine's md5
      // fingerprint is collision-free at 128 bits)
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100),
        |d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0) AS ws FROM all_docs),
        |b AS (SELECT doc_id, i AS bidx,
        |  array_to_string(ws[i*10+1 : i*10+10], ' ') AS block
        | FROM d CROSS JOIN unnest(range(0, (len(ws) + 9) // 10)) t(i)
        | WHERE len(ws) > 0),
        |r AS (SELECT doc_id, bidx, block,
        |  row_number() OVER (PARTITION BY block ORDER BY doc_id, bidx) AS rn FROM b),
        |tot AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id),
        |reb AS (SELECT doc_id,
        |  string_agg(block, ' ' ORDER BY bidx) AS clean_text,
        |  count(*) AS n_blocks_kept
        | FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT tot.doc_id, md5(coalesce(reb.clean_text, '')) AS clean_md5,
        | tot.n_blocks::BIGINT AS n_blocks,
        | coalesce(reb.n_blocks_kept, 0)::BIGINT AS n_blocks_kept
        |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // corpus-wide block dedup APPLIED (tail partial block included so
      // unique text reassembles losslessly); injected full copies (ids
      // +100000) must come back fully emptied; md5 pins every cleaned text
      val docs = t("documents").select("doc_id", "text")
      val dup = docs.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Dedup.dedupBlocksAcrossCorpus(docs.unionByName(dup), "doc_id", "text", w = 10)
        .select(col("id").as("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_blocks"), col("n_blocks_kept"))
        .orderBy("doc_id")
    },

    Query("p23_seq_packing",
      """WITH t AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0))::BIGINT AS n_tok
        | FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t)
        |SELECT doc_id, n_tok, (cb // 1024)::BIGINT AS start_bin,
        | (cb % 1024)::BIGINT AS bin_offset,
        | (CASE WHEN n_tok = 0 THEN 0
        |  ELSE (cb + n_tok - 1) // 1024 - cb // 1024 + 1 END)::BIGINT AS bins_spanned
        |FROM c ORDER BY doc_id""".stripMargin,
      floor = true) { t =>
      // GPT-style concat-and-cut packing via the distributed prefix sum
      // (per-id-range bucket subtotals → tiny prefix window → parallel
      // per-bucket running sums); oracle = one global DuckDB window
      val docs = t("documents")
        .select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
      Packing.packSequences(docs, "doc_id", "n_tok", budget = 1024L, bucketSize = 500L)
        .select(col("id").as("doc_id"), col("n_tok"),
          col("start_bin"), col("bin_offset"), col("bins_spanned"))
        .orderBy("doc_id")
    },

    Query("p17_char_entropy",
      """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c) AS n, count(*) AS n_distinct_chars FROM cnt GROUP BY 1)
        |SELECT cnt.doc_id, n_distinct_chars,
        | round(-sum((c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE)), 6) AS entropy6
        |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
      floor = true) { t =>
      // CCNet-style character-entropy gibberish gate; (doc, char) counter
      // shuffle with partial agg — the same scale shape as p15's bigrams
      TextAnalysis.charEntropy(t("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_distinct_chars"),
          round(col("entropy"), 6).as("entropy6"))
        .orderBy("doc_id")
    },

    Query("p18_vocab_topk",
      """WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |  x -> len(x) > 0)) AS word FROM documents)
        |SELECT word, count(*) AS n FROM w GROUP BY word
        |ORDER BY n DESC, word LIMIT 100""".stripMargin,
      floor = true) { t =>
      // corpus vocabulary: classic map-side-combine word count, top-k with
      // a total order for determinism
      t("documents")
        .select(explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(100)
    }
  )
}
