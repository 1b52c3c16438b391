package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.CorpusOps
import Q.{dec6, r6}
import scala.collection.immutable.ListMap

/** Lexical / tokenizer suite: the token-level statistics and tokenizer
  * lifecycle of a training-data pipeline — vocabulary and frequency
  * models (Zipf, heavy hitters, CMS, surprisal LMs), lexical relevance
  * (BM25, tf-idf, PMI, log-odds), text-quality lenses (readability,
  * diversity, CCNet buckets, Burrows' delta), language ID, and the BPE
  * tokenizer train/encode loop. Split from CorpusQ (round 11) purely
  * for file hygiene; CorpusQ keeps the corpus-LEVEL curation stages
  * (dedup, sampling, mixtures, splits).
  */
object TokenizerQ {

  val queries: ListMap[String, Q] = ListMap(
    // Corpus vocabulary: term + document frequency for the 20 most frequent
    // tokens (tokenizer-budget / stopword-list construction). Both counts
    // are map-side-combinable; df counts rows of the (doc, term) aggregate
    // rather than count(DISTINCT), keeping every stage partial-aggregatable.
    "q82_vocab_topk" -> Q(
      (s, d) => {
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("__t"))
          .select(col("doc_id"), explode_outer(col("__t")).as("token"))
          .filter(col("token").isNotNull && col("token") =!= "")
        val perDoc = ex.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        perDoc.groupBy("token")
          .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
          .orderBy(col("tf").desc, col("token"))
          .limit(20)
      },
      Some("""WITH ex AS (SELECT doc_id,
             |  unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
             |pd AS (SELECT doc_id, token, count(*) AS tf FROM ex
             |  WHERE token IS NOT NULL AND token <> '' GROUP BY doc_id, token)
             |SELECT token, CAST(sum(tf) AS BIGINT) AS tf, count(*) AS df
             |FROM pd GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin)),

    // Okapi BM25 against a fixed query bag — lexical relevance scoring for
    // topic-targeted corpus selection. Oracle mirrors the exact arithmetic
    // shape (same constant expressions, same fixed term-order sum); ln's
    // 1-ulp cross-engine noise is absorbed by the biased rounding.
    "q83_bm25" -> Q(
      (s, d) => {
        val scored = CorpusOps.bm25(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("merge", "stream", "filter"), k1 = 1.2, b = 0.75)
        scored.select(col("doc_id"), col("dl"), col("tf_0"), col("tf_1"), col("tf_2"),
            dec6(col("bm25")).as("bm25"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM documents),
              |base AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
              |  CAST(len(list_filter(t, x -> x = 'merge')) AS DOUBLE) AS tf_0,
              |  CAST(len(list_filter(t, x -> x = 'stream')) AS DOUBLE) AS tf_1,
              |  CAST(len(list_filter(t, x -> x = 'filter')) AS DOUBLE) AS tf_2
              |  FROM toks),
              |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
              |  CAST(sum(CAST(tf_0 > 0 AS INT)) AS DOUBLE) AS df_0,
              |  CAST(sum(CAST(tf_1 > 0 AS INT)) AS DOUBLE) AS df_1,
              |  CAST(sum(CAST(tf_2 > 0 AS INT)) AS DOUBLE) AS df_2
              |  FROM base)
              |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
              |  CAST(tf_0 AS BIGINT) AS tf_0, CAST(tf_1 AS BIGINT) AS tf_1,
              |  CAST(tf_2 AS BIGINT) AS tf_2,
              |${r6("""ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
              |    * (tf_0 * (1.2 + 1.0)) / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              |  + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
              |    * (tf_1 * (1.2 + 1.0)) / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
              |  + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
              |    * (tf_2 * (1.2 + 1.0)) / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))""")}
              |  AS bm25
              |FROM base, stats ORDER BY doc_id""".stripMargin)),

    // Per-document salience: the most distinctive term by TF-IDF. The float
    // ranking is computed from integer-exact (tf, df, N), so the windowed
    // arg-max agrees across engines up to exact ties, which break on the
    // term string in both.
    "q85_tfidf_top" -> Q(
      (s, d) => CorpusOps.tfidfTopTerm(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("top_term"), col("tf"), col("df"),
          dec6(col("tfidf")).as("tfidf"))
        .orderBy("doc_id"),
      Some(s"""WITH ex AS (SELECT doc_id,
              |  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM ex
              |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY doc_id, tok),
              |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
              |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
              |scored AS (SELECT doc_id, tok, tf.tf, dft.df,
              |  tf.tf * ln(n_docs / dft.df) AS tfidf,
              |  row_number() OVER (PARTITION BY doc_id ORDER BY tf.tf * ln(n_docs / dft.df) DESC, tok)
              |    AS rn
              |  FROM tf JOIN dft USING (tok), n)
              |SELECT doc_id, tok AS top_term, CAST(tf AS BIGINT) AS tf,
              |  CAST(df AS BIGINT) AS df, ${r6("tfidf")} AS tfidf
              |FROM scored WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Unigram-LM scoring (the order-0 CCNet/KenLM perplexity filter): mean
    // token log-prob under the corpus's own unigram distribution; the keep
    // flag compares ROUNDED scores so both engines cut identically.
    "q90_unigram_logprob" -> Q(
      (s, d) => CorpusOps.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_toks"),
          dec6(col("mean_logprob")).as("mean_logprob"))
        .withColumn("keep", (col("mean_logprob") >= -3.5).cast("int"))
        .orderBy("doc_id"),
      Some(s"""WITH ex AS (SELECT doc_id,
              |  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
              |ex2 AS (SELECT doc_id, tok FROM ex WHERE tok IS NOT NULL AND tok <> ''),
              |vocab AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM ex2 GROUP BY tok),
              |tot AS (SELECT sum(cnt) AS total FROM vocab),
              |lp AS (SELECT tok, ln(cnt / total) AS logp FROM vocab, tot),
              |sc AS (SELECT doc_id, count(*) AS n_toks,
              |  ${r6("sum(logp) / count(*)")} AS mean_logprob
              |  FROM ex2 JOIN lp USING (tok) GROUP BY doc_id)
              |SELECT doc_id, n_toks, mean_logprob,
              |  CAST(mean_logprob >= -3.5 AS INT) AS keep
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // Zipf diagnostic: rank-frequency regression over the top-100 vocabulary
    // (slope ≈ −1 on natural text; a flat slope flags templated/synthetic
    // corpora). Ranks come from integer counts with a string tie-break, so
    // both engines regress over the identical point set.
    "q93_zipf_slope" -> Q(
      (s, d) => {
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("__t"))
          .select(explode_outer(col("__t")).as("token"))
          .filter(col("token").isNotNull && col("token") =!= "")
        val vocab = ex.groupBy("token").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token"))
          .limit(100)
          .withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("tf").desc, col("token"))))
        vocab.agg(
          count(lit(1)).as("n_terms"),
          dec6(regr_slope(log(col("tf").cast("double")), log(col("rank").cast("double"))))
            .as("zipf_slope"),
          dec6(regr_r2(log(col("tf").cast("double")), log(col("rank").cast("double"))))
            .as("r2"))
      },
      Some(s"""WITH ex AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
              |  FROM documents),
              |vocab AS (SELECT token, count(*) AS tf FROM ex
              |  WHERE token IS NOT NULL AND token <> ''
              |  GROUP BY token ORDER BY tf DESC, token LIMIT 100),
              |ranked AS (SELECT tf,
              |  row_number() OVER (ORDER BY tf DESC, token) AS rank FROM vocab)
              |SELECT count(*) AS n_terms,
              |${r6("regr_slope(ln(CAST(tf AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")}
              |  AS zipf_slope,
              |${r6("regr_r2(ln(CAST(tf AS DOUBLE)), ln(CAST(rank AS DOUBLE)))")} AS r2
              |FROM ranked""".stripMargin)),

    // Heaps-law vocabulary growth across 10 deterministic doc-id slices —
    // the "new language or re-crawl?" freshness diagnostic. One
    // token-keyed first-bucket aggregate; the cumulative sum runs over
    // the 10-row bucket table.
    "q242_vocab_growth" -> Q(
      (s, d) => CorpusOps.vocabGrowthCurve(
          Tables.documents(s, d), "doc_id", "text", buckets = 10)
        .orderBy("bucket"),
      Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
             |b AS (SELECT doc_id,
             |  CAST(floor(doc_id * 10 / (m + 1)) AS BIGINT) AS bucket, text
             |  FROM documents, mx),
             |nd AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket),
             |ex AS (SELECT bucket,
             |  unnest(string_split_regex(trim(text), '\s+')) AS tok FROM b),
             |fb AS (SELECT tok, min(bucket) AS bucket FROM ex
             |  WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
             |nt AS (SELECT bucket, count(*) AS new_types FROM fb GROUP BY bucket)
             |SELECT nd.bucket, n_docs,
             |  coalesce(new_types, 0) AS new_types,
             |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY nd.bucket)
             |    AS BIGINT) AS vocab_size
             |FROM nd LEFT JOIN nt USING (bucket)
             |ORDER BY nd.bucket""".stripMargin)),

    // One BPE pair-counting round (Sennrich ACL'16) — the aggregation a
    // corpus-scale tokenizer fit iterates. Corpus collapses to the distinct-
    // word vocab first, so pair counting is O(vocab), not O(corpus).
    "q118_bpe_pairs" -> Q(
      (s, d) => CorpusOps.bpePairCounts(Tables.documents(s, d), "doc_id", "text",
        topK = 20),
      Some("""WITH w AS (SELECT tok AS w, count(*) AS freq FROM
             |  (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |   FROM documents) WHERE tok IS NOT NULL AND tok <> '' GROUP BY tok),
             |p AS (SELECT unnest(list_transform(
             |    generate_series(1, len(w) - 1),
             |    i -> substring(w, i, 2))) AS pair, freq
             |  FROM w WHERE len(w) >= 2)
             |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY pair
             |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),

    // Full BPE tokenizer TRAINING (Sennrich ACL'16) — the count→merge→
    // rewrite LOOP that q118's single pair-count step feeds: 25 merge
    // rounds on the distinct-word vocab (corpus touched once; each round
    // is one vocab-sized aggregate + one bounded argmax collect + one
    // guarded rewrite, localCheckpointed — per-iteration plan shape in
    // BpeOps scaladoc). Deterministic count-desc/lexicographic argmax →
    // rows-only with BpeSpec pinning the hand-worked Sennrich example
    // and tools/crosscheck_stats.py replaying the full 25-round loop in
    // independent Python.
    "q301_bpe_train" -> Q(
      (s, d) => graft.operators.BpeOps.bpeTrain(
          Tables.documents(s, d), "doc_id", "text", merges = 25)
        .orderBy("rank")),

    // DSIR importance weights (Xie et al. NeurIPS'23): English docs stand in
    // for the target distribution; every non-English doc is scored by the
    // log-likelihood ratio of its hashed-bigram buckets under target vs raw
    // bucket models. The bucket hash is md5-derived so DuckDB reproduces it
    // bit-for-bit (production would use xxhash64 % B — same shape).
    "q114_dsir_weights" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        CorpusOps.dsirWeights(docs, "doc_id", "text",
            isTarget = col("lang") === "en", buckets = 4096, n = 2)
          .select(col("doc_id"), col("n_feats"),
            dec6(col("dsir_logratio")).as("dsir_logratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang,
              |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
              |pos AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
              |  CAST(('0x' || substring(md5(g), 1, 3)) AS INT) % 4096 AS b
              |  FROM (SELECT doc_id, lang, unnest(list_transform(
              |    generate_series(1, greatest(len(t) - 1, 0)),
              |    i -> concat_ws(' ', t[i], t[i+1]))) AS g FROM toks)),
              |cnt AS (SELECT b, CAST(sum(tgt) AS DOUBLE) AS ct,
              |  CAST(sum(1 - tgt) AS DOUBLE) AS cr FROM pos GROUP BY b),
              |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
              |ratio AS (SELECT b, ln((ct + 1.0) / (nt + 4096.0))
              |  - ln((cr + 1.0) / (nr + 4096.0)) AS lr FROM cnt, tot),
              |sc AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS s
              |  FROM pos JOIN ratio USING (b) WHERE tgt = 0 GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
              |  ${r6("coalesce(sc.s, 0.0)")} AS dsir_logratio
              |FROM documents d LEFT JOIN sc USING (doc_id)
              |WHERE d.lang <> 'en' ORDER BY d.doc_id""".stripMargin)),

    // Add-k bigram-LM surprisal — the order-1 step from q90's unigram
    // scorer toward a CCNet-style perplexity filter; fit and scored on the
    // same corpus, p(w2|w1) = (c2 + 0.5) / (c1 + 0.5 * V).
    "q116_bigram_surprisal" -> Q(
      (s, d) => CorpusOps.bigramSurprisal(Tables.documents(s, d), "doc_id", "text", k = 0.5)
        .select(col("doc_id"), col("n_bigrams"),
          dec6(col("mean_surprisal")).as("mean_surprisal"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id,
              |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
              |big AS (SELECT doc_id, unnest(list_transform(
              |  generate_series(1, greatest(len(t) - 1, 0)),
              |  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM toks),
              |bg2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
              |uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c1 FROM
              |  (SELECT unnest(t) AS tok FROM toks) WHERE tok IS NOT NULL
              |  AND tok <> '' GROUP BY tok),
              |v AS (SELECT CAST(count(*) AS DOUBLE) AS vsz FROM uni),
              |c2t AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2
              |  FROM bg2 GROUP BY w1, w2),
              |sc AS (SELECT doc_id, count(*) AS n_bigrams,
              |  sum(-(ln(c2 + 0.5) - ln(c1 + 0.5 * vsz))) / count(*) AS ms
              |  FROM bg2 JOIN c2t USING (w1, w2)
              |  JOIN uni ON bg2.w1 = uni.tok, v GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              |  ${r6("coalesce(sc.ms, 0.0)")} AS mean_surprisal
              |FROM documents d LEFT JOIN sc USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Jelinek-Mercer interpolated trigram-LM surprisal — the order-2
    // extension of q116 toward a KenLM-grade perplexity filter:
    // p(w3|w1w2) = 0.5*ML3 + 0.3*ML2 + 0.2*add-k unigram, self-scored
    // (observed trigrams always have nonzero prefix counts).
    "q217_trigram_surprisal" -> Q(
      (s, d) => CorpusOps.trigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          dec6(col("mean_surprisal")).as("mean_surprisal"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id,
              |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
              |tg AS (SELECT doc_id, unnest(list_transform(
              |  generate_series(1, greatest(len(t) - 2, 0)),
              |  i -> struct_pack(w1 := t[i], w2 := t[i+1], w3 := t[i+2]))) AS g
              |  FROM toks),
              |tg2 AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM tg),
              |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3
              |  FROM tg2 GROUP BY 1, 2, 3),
              |bg AS (SELECT doc_id, unnest(list_transform(
              |  generate_series(1, greatest(len(t) - 1, 0)),
              |  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS g FROM toks),
              |cb AS (SELECT g.w1 AS w1, g.w2 AS w2,
              |  CAST(count(*) AS DOUBLE) AS cb FROM bg GROUP BY 1, 2),
              |uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cu FROM
              |  (SELECT unnest(t) AS tok FROM toks) WHERE tok IS NOT NULL
              |  AND tok <> '' GROUP BY tok),
              |nv AS (SELECT sum(cu) AS nn, CAST(count(*) AS DOUBLE) AS vsz
              |  FROM uni),
              |sc AS (SELECT doc_id, count(*) AS n_trigrams,
              |  avg(-ln(0.5 * c3.c3 / p.cb + 0.3 * sfx.cb / u2.cu
              |    + 0.2 * (u3.cu + 0.5) / (nv.nn + 0.5 * nv.vsz))) AS ms
              |  FROM tg2
              |  JOIN c3 USING (w1, w2, w3)
              |  JOIN cb p ON p.w1 = tg2.w1 AND p.w2 = tg2.w2
              |  JOIN cb sfx ON sfx.w1 = tg2.w2 AND sfx.w2 = tg2.w3
              |  JOIN uni u2 ON u2.tok = tg2.w2
              |  JOIN uni u3 ON u3.tok = tg2.w3, nv
              |  GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
              |  ${r6("coalesce(sc.ms, 0.0)")} AS mean_surprisal
              |FROM documents d LEFT JOIN sc USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Misra-Gries heavy-hitter vocabulary head — q82's exact top-k without
    // the token-keyed shuffle: one linear scan, <=capacity counters per
    // task, one summary row per partition. Rows-only: which sub-threshold
    // items linger is merge-order dependent; HeavyHittersSpec pins the
    // guarantees (head presence, lower-bound counts, N/(k+1) undershoot)
    // against exact counts under different partitionings.
    "q120_heavy_hitters" -> Q(
      (s, d) => CorpusOps.heavyHitterVocab(Tables.documents(s, d), "text",
          capacity = 50)
        .orderBy(col("count_lower").desc, col("item")),
      None),

    // Character-level Shannon entropy (gibberish / encoding-damage filter).
    // Fully row-local HOFs on the Spark side — zero shuffles; the oracle
    // recomputes H = log2(n) − Σ c·log2(c)/n from unnested char counts.
    "q121_char_entropy" -> Q(
      (s, d) => {
        val e = CorpusOps.charEntropy(Tables.documents(s, d), "doc_id", "text")
        e.select(col("doc_id"), col("n_chars_h"), dec6(col("entropy")).as("entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ch AS (SELECT doc_id,
              |  unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
              |  FROM documents),
              |cc AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
              |  FROM ch GROUP BY doc_id, c),
              |e AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * log2(cnt)) AS s
              |  FROM cc GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CAST(coalesce(e.n, 0) AS BIGINT) AS n_chars_h,
              |  ${r6("CASE WHEN e.n > 0 THEN log2(e.n) - e.s / e.n ELSE 0.0 END")}
              |    AS entropy
              |FROM documents d LEFT JOIN e USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Count-Min point-frequency estimates per source stratum. Rows-only:
    // estimates are sketch-parameter-specific upper bounds; CountMinSpec
    // pins the guarantees (estimate >= exact always, +eps*N error bound,
    // byte-identical sketches under repartitioning) against exact counts.
    "q126_cms_freq" -> Q(
      (s, d) => CorpusOps.cmsTokenEstimates(Tables.documents(s, d),
          "source", "text",
          terms = Seq("the", "data", "kiln", "sensor", "quality"))
        .orderBy("source", "term"),
      None),

    // PMI collocations: top adjacent-pair pointwise mutual information
    // with a min-count floor — the phrase-mining pass. Joins run over
    // vocabulary-sized tables; ranks on the rounded score.
    "q154_pmi_collocations" -> Q(
      (s, d) => CorpusOps.pmiCollocations(Tables.documents(s, d), "text",
        minCount = 5, topK = 20, scoreOut = dec6),
      Some(s"""WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t
              |  FROM documents),
              |pr AS (SELECT t[u.i] AS w1, t[u.i+1] AS w2 FROM toks,
              |  LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
              |  WHERE len(t) >= 2),
              |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr
              |  WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
              |uni AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
              |  FROM documents),
              |uc AS (SELECT w, count(*) AS n_w FROM uni
              |  WHERE w IS NOT NULL AND w <> '' GROUP BY w),
              |nu AS (SELECT sum(n_w) AS nu FROM uc),
              |np AS (SELECT sum(n_pair) AS np FROM pc)
              |SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
              |  ${r6("""ln((CAST(n_pair AS DOUBLE) / np)
              |    / ((CAST(u1.n_w AS DOUBLE) / nu) * (CAST(u2.n_w AS DOUBLE) / nu)))""")}
              |    AS pmi
              |FROM pc JOIN uc u1 ON pc.w1 = u1.w JOIN uc u2 ON pc.w2 = u2.w, nu, np
              |WHERE n_pair >= 5
              |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Language-ID quality report: per-class precision/recall/F1 of the
    // q52 marker-count predictor against the labeled lang column — the
    // heuristic classifier becomes a measured component.
    "q159_langid_report" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("t", graft.operators.TextOps.tokens(col("text")))
        val scores = graft.operators.TextOps.langMarkers.map { case (l, ms) =>
          graft.operators.TextOps.markerCount(col("t"), ms).as(s"s_$l")
        }
        val scored = docs.select((col("doc_id") +: col("lang") +: scores): _*)
          .withColumn("pred_lang", graft.operators.TextOps.predictLang(
            col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
        CorpusOps.classificationReport(scored, "lang", "pred_lang", dec6)
          .orderBy("cls")
      },
      Some(s"""WITH toks2 AS (SELECT doc_id, lang,
              |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
              |x AS (SELECT doc_id, lang,
              |  len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and'))) AS s_en,
              |  len(list_filter(t, x -> x IN ('der', 'die', 'das', 'und'))) AS s_de,
              |  len(list_filter(t, x -> x IN ('le', 'la', 'les', 'et'))) AS s_fr,
              |  len(list_filter(t, x -> x IN ('el', 'los', 'las', 'y'))) AS s_es
              |  FROM toks2),
              |pr AS (SELECT lang,
              |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
              |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
              |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
              |  FROM x),
              |tt AS (SELECT lang AS cls, count(*) AS n_true FROM pr GROUP BY lang),
              |pp AS (SELECT pred_lang AS cls, count(*) AS n_pred FROM pr
              |  GROUP BY pred_lang),
              |cc AS (SELECT lang AS cls, count(*) AS n_correct FROM pr
              |  WHERE lang = pred_lang GROUP BY lang),
              |j AS (SELECT coalesce(tt.cls, pp.cls) AS cls,
              |  coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
              |  FROM tt FULL OUTER JOIN pp ON tt.cls = pp.cls),
              |k AS (SELECT j.cls, n_true, n_pred, coalesce(n_correct, 0) AS n_correct,
              |  CASE WHEN n_pred > 0 THEN CAST(coalesce(n_correct, 0) AS DOUBLE) / n_pred
              |    ELSE 0.0 END AS p,
              |  CASE WHEN n_true > 0 THEN CAST(coalesce(n_correct, 0) AS DOUBLE) / n_true
              |    ELSE 0.0 END AS r
              |  FROM j LEFT JOIN cc ON j.cls = cc.cls)
              |SELECT cls, CAST(n_true AS BIGINT) AS n_true,
              |  CAST(n_pred AS BIGINT) AS n_pred,
              |  CAST(n_correct AS BIGINT) AS n_correct,
              |  ${r6("p")} AS precision, ${r6("r")} AS recall,
              |  ${r6("CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END")} AS f1
              |FROM k ORDER BY cls""".stripMargin)),

    // Per-source lexical diversity: type-token ratio + hapax fraction —
    // the vocabulary-richness profile that separates organic text from
    // template spam.
    "q136_lexical_diversity" -> Q(
      (s, d) => CorpusOps.lexicalDiversity(Tables.documents(s, d), "source", "text",
          scoreOut = dec6)
        .orderBy("source"),
      Some(s"""WITH ex AS (SELECT source,
              |  unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
              |tf AS (SELECT source, token, count(*) AS c FROM ex
              |  WHERE token IS NOT NULL AND token <> '' GROUP BY source, token)
              |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
              |  count(*) AS n_types,
              |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              |  ${r6("CAST(count(*) AS DOUBLE) / sum(c)")} AS ttr,
              |  ${r6("CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
              |    AS hapax_frac
              |FROM tf GROUP BY source ORDER BY source""".stripMargin)),

    // CCNet LM-quality buckets: head/middle/tail tertiles of corpus-LM
    // mean log-probability WITHIN each language — the per-language
    // normalization that keeps a multilingual quality cut from dropping
    // low-resource languages wholesale.
    "q137_ccnet_buckets" -> Q(
      (s, d) => CorpusOps.ccnetBuckets(Tables.documents(s, d), "doc_id", "lang",
          "text", scoreOut = dec6)
        .orderBy("doc_id"),
      Some(s"""WITH ex AS (SELECT doc_id,
              |  unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
              |ex2 AS (SELECT doc_id, tok FROM ex WHERE tok IS NOT NULL AND tok <> ''),
              |vocab AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM ex2 GROUP BY tok),
              |tot AS (SELECT sum(cnt) AS total FROM vocab),
              |lp AS (SELECT tok, ln(cnt / total) AS logp FROM vocab, tot),
              |sc AS (SELECT doc_id, count(*) AS n_toks,
              |  ${r6("sum(logp) / count(*)")} AS mean_logprob
              |  FROM ex2 JOIN lp USING (tok) GROUP BY doc_id),
              |t AS (SELECT d.doc_id, d.lang, sc.n_toks, sc.mean_logprob,
              |  CAST(ntile(3) OVER (PARTITION BY d.lang
              |    ORDER BY sc.mean_logprob DESC, d.doc_id) AS INT) AS tertile
              |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id)
              |SELECT doc_id, lang, n_toks, mean_logprob, tertile,
              |  CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              |    ELSE 'tail' END AS ccnet_bucket
              |FROM t ORDER BY doc_id""".stripMargin)),

    // Distinctive terms per source by weighted log-odds with an
    // informative Dirichlet prior (Monroe '08 "Fightin' Words") — the
    // statistically-grounded "what words characterize this source"
    // replacement for raw TF-IDF tops: the global-frequency prior
    // shrinks rare-word noise, the variance estimate makes z comparable
    // across frequency bands. Rank over ROUNDED z, token tiebreak.
    "q250_logodds_terms" -> Q(
      (s, d) => CorpusOps.logOddsTerms(Tables.documents(s, d),
          "source", "text", a0 = 500.0, k = 5, scoreOut = dec6)
        .select(col("grp").as("source"), col("tok").as("token"),
          col("y_group"), col("y_rest"), col("z_logodds"), col("rn"))
        .orderBy("source", "rn"),
      Some(s"""WITH ex AS (SELECT source,
              |  unnest(string_split_regex(trim(text), '\\s+')) AS tok
              |  FROM documents),
              |yg AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS y_g
              |  FROM ex WHERE tok IS NOT NULL AND tok <> '' GROUP BY 1, 2),
              |ng AS (SELECT source, sum(y_g) AS n_g FROM yg GROUP BY source),
              |yw AS (SELECT tok, sum(y_g) AS y_w FROM yg GROUP BY tok),
              |nt AS (SELECT sum(y_w) AS N FROM yw),
              |j AS (SELECT yg.source, yg.tok, y_g, y_w - y_g AS y_r,
              |    500.0 * y_w / nt.N AS aw, n_g, nt.N - n_g AS n_r
              |  FROM yg JOIN yw USING (tok) JOIN ng USING (source), nt),
              |sc AS (SELECT source, tok,
              |  CAST(y_g AS BIGINT) AS y_group, CAST(y_r AS BIGINT) AS y_rest,
              |  ${r6("(ln((y_g + aw) / (n_g + 500.0 - y_g - aw)) - ln((y_r + aw) / (n_r + 500.0 - y_r - aw))) / sqrt(1.0 / (y_g + aw) + 1.0 / (y_r + aw))")} AS z_logodds
              |  FROM j),
              |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
              |  ORDER BY z_logodds DESC, tok) AS INT) AS rn FROM sc)
              |SELECT source, tok AS token, y_group, y_rest, z_logodds, rn
              |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin)),

    // Flesch reading ease + Flesch-Kincaid grade per enriched doc, from
    // three linear regex counts (sentence runs, whitespace words,
    // vowel-group syllable proxy, each floored at 1) — the curation
    // signal separating readable prose from same-length word soup. Pure
    // codegen'd regexp over one scan.
    "q254_readability" -> Q(
      (s, d) => {
        val st = graft.operators.TextOps.readability(col("text"))
        CorpusFixture.enriched(s, d)
          .select(col("doc_id"), col("source"), st.as("__r"))
          .select(col("doc_id"), col("source"),
            col("__r.n_sentences"), col("__r.n_words"), col("__r.n_syllables"),
            dec6(col("__r.flesch")).as("flesch"),
            dec6(col("__r.fk_grade")).as("fk_grade"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${CorpusFixture.sql},
              |c AS (SELECT doc_id, source,
              |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS sen,
              |  CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS DOUBLE) AS w,
              |  CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE) AS syl
              |  FROM enr)
              |SELECT doc_id, source, CAST(sen AS BIGINT) AS n_sentences,
              |  CAST(w AS BIGINT) AS n_words, CAST(syl AS BIGINT) AS n_syllables,
              |  ${r6("206.835 - 1.015 * w / sen - 84.6 * syl / w")} AS flesch,
              |  ${r6("0.39 * w / sen + 11.8 * syl / w - 15.59")} AS fk_grade
              |FROM c ORDER BY doc_id""".stripMargin)),

    // Hill tail-index of corpus document length — "how heavy is the
    // long-document tail": alpha <~ 2 means infinite variance, i.e. mean
    // doc length and sigma-based length monitors stop converging and the
    // robust/quantile machinery (q157/q262) is mandatory. The operator is
    // group-partitioned (per-source at scale); the 500-doc gate corpus
    // runs it as one group so the k=50 head exists (per-source slices
    // here are 25 docs). Top-k order statistics with doc_id tiebreak.
    "q288_hill_tail_index" -> Q(
      (s, d) => graft.operators.StatOps.hillTailIndex(
          Tables.documents(s, d).withColumn("corpus", lit("all")),
          "corpus", "n_chars", "doc_id", k = 50, scoreOut = dec6)
        .orderBy("corpus"),
      Some(s"""WITH r AS (SELECT 'all' AS corpus, CAST(n_chars AS DOUBLE) AS x,
              |    row_number() OVER (
              |      ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
              |  FROM documents WHERE n_chars > 0),
              |h AS (SELECT corpus, count(*) AS cnt,
              |    sum(CASE WHEN rn <= 50 THEN ln(x) END) AS slog,
              |    max(CASE WHEN rn = 51 THEN x END) AS xk1
              |  FROM r WHERE rn <= 51 GROUP BY corpus)
              |SELECT corpus, 50 AS k, ${r6("xk1")} AS x_threshold,
              |  ${r6("50.0 / (slog - 50.0 * ln(xk1))")} AS alpha
              |FROM h WHERE cnt = 51 ORDER BY corpus""".stripMargin)),

    // Burrows' Delta stylometric distance between sources over the
    // corpus's top-20 words — which "sources" share a generator/template
    // (the style companion of q258's content overlap). z-scored word
    // rates on the sources x 20 grid; pairwise mean |z_a - z_b|.
    "q300_burrows_delta" -> Q(
      (s, d) => graft.operators.CorpusOps.burrowsDelta(
          Tables.documents(s, d), "source", "text", k = 20, scoreOut = dec6)
        .orderBy("src_a", "src_b"),
      Some(s"""WITH tok AS (SELECT source AS g,
              |    unnest(string_split_regex(trim(text), '\\s+')) AS w
              |  FROM documents),
              |tok2 AS (SELECT g, w FROM tok WHERE len(w) > 0),
              |counts AS (SELECT g, w, count(*) AS c FROM tok2 GROUP BY 1, 2),
              |totals AS (SELECT g, sum(c) AS tot FROM counts GROUP BY 1),
              |top AS (SELECT w FROM (SELECT w, sum(c) AS cw FROM counts
              |  GROUP BY 1) ORDER BY cw DESC, w LIMIT 20),
              |dense AS (SELECT t.g, top.w,
              |    coalesce(c.c, 0) / CAST(t.tot AS DOUBLE) AS f
              |  FROM totals t CROSS JOIN top
              |  LEFT JOIN counts c ON c.g = t.g AND c.w = top.w),
              |st AS (SELECT w, avg(f) AS mu, stddev_pop(f) AS sd
              |  FROM dense GROUP BY 1),
              |z AS (SELECT g, dense.w AS w, ${r6("(f - mu) / sd")} AS z
              |  FROM dense JOIN st ON dense.w = st.w WHERE sd > 0)
              |SELECT a.g AS src_a, b.g AS src_b, count(*) AS n_words,
              |  ${r6("avg(abs(a.z - b.z))")} AS delta
              |FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TextRank keyword extraction (Mihalcea & Tarau '04): PageRank over
    // the word co-occurrence graph (window = 3 raw-split positions,
    // words >= 3 letters, both directions), top-20 by rank — keyword
    // scoring as a pure COMPOSITION of the tokenizer and GraphOps
    // .pageRank (the co-occurrence graph's merged edges stay under
    // GraphOps.LocalEdgeLimit at gate scale, so the power steps run on
    // the driver; a corpus whose word graph outgrows the bound takes the
    // distributed regimes). The oracle unrolls the same 5 power steps
    // (the q233 pattern) over the same tokenization.
    "q327_textrank" -> Q(
      (s, d) => {
        // spread before the tokenize explode: the co-occurrence self-join
        // inherits the scan's one partition through it (profiled 0.9 s
        // two-task stage building the exchange; guide §2.5)
        val tok = graft.operators.Spread.ifNarrow(Tables.documents(s, d))
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), "[^a-z]+"))
              .as(Seq("pos", "w")))
          .filter(length(col("w")) >= 3)
        val co = tok.as("a").join(tok.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") > col("a.pos") &&
              col("b.pos") - col("a.pos") <= 3 &&
              col("a.w") =!= col("b.w"))
          .select(col("a.w").as("src"), col("b.w").as("dst"))
          // both union branches read co — unpersisted, the tokenize +
          // window join pipeline runs twice
          .persist()
        val edges = co.unionAll(co.select(col("dst").as("src"),
            col("src").as("dst")))
          .withColumn("wt", lit(1.0))
        graft.operators.GraphOps.pageRank(edges, "src", "dst", "wt",
            damping = 0.85, iters = 5, scoreOut = dec6)
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some {
        val steps = (1 to 5).map { i =>
          s"""d$i AS (SELECT coalesce(sum(r), 0) AS dm FROM r${i - 1}
             |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
             |c$i AS (SELECT dst, sum(r * p) AS cin FROM norm
             |  JOIN r${i - 1} ON norm.src = r${i - 1}.node GROUP BY dst),
             |r$i AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
             |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d$i)
             |    / (SELECT N FROM nn)) AS r
             |  FROM nodes n LEFT JOIN c$i c ON n.node = c.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH tok AS (SELECT doc_id, u.x.w AS w, u.x.i AS pos FROM (
           |    SELECT doc_id, unnest(list_transform(
           |      regexp_split_to_array(lower(text), '[^a-z]+'),
           |      (x, i) -> {'w': x, 'i': i})) AS x
           |    FROM documents) u WHERE length(x.w) >= 3),
           |co AS (SELECT a.w AS src, b.w AS dst FROM tok a JOIN tok b
           |  ON a.doc_id = b.doc_id AND b.pos > a.pos
           |  AND b.pos - a.pos <= 3 AND a.w <> b.w),
           |e AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM
           |  (SELECT src, dst FROM co
           |   UNION ALL SELECT dst, src FROM co) GROUP BY 1, 2),
           |ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
           |norm AS (SELECT e.src, e.dst, e.w / ow.ow AS p
           |  FROM e JOIN ow ON e.src = ow.src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM nodes),
           |r0 AS (SELECT node, 1.0 / (SELECT N FROM nn) AS r FROM nodes),
           |$steps
           |SELECT node, ${r6("r")} AS rank FROM r5
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin
      }),

    // Corpus-scale tokenizer ENCODE — the apply half of q301's trained
    // BPE: the 25 learned merges become a broadcast literal replayed per
    // word in ONE mapPartitions corpus scan (per-partition word cache;
    // no join, no shuffle), then per-source fertility with the TRAINED
    // tokenizer — upgrading q185's whitespace-heuristic fertility to the
    // number a real tokenizer ships with. Trained-merge-specific →
    // rows-only; BpeSpec pins encoder parity with the composed-expression
    // encode and the python replay re-runs the full train+encode loop.
    "q336_bpe_encode" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val trained = graft.operators.BpeOps.bpeTrain(
            docs, "doc_id", "text", merges = 25)
          .orderBy("rank").collect()
          .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
        graft.operators.BpeOps.bpeTokenize(docs, "doc_id", "source", "text", trained)
          .groupBy(col("grp").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("n_words"),
            sum(size(col("tokens")).cast("long")).as("n_tokens"),
            dec6(sum(size(col("tokens")).cast("long")).cast("double") /
              sum("n_words")).as("bpe_fertility"))
          .orderBy("source")
      }),

    // Trained document-quality classifier (NBSVM flavor — Wang & Manning
    // ACL'12 meets fastText): hashed-bigram naive-Bayes log-count-ratio
    // (the q114 DSIR bucketing, fit against the q237 Gopher-repetition
    // weak label) + log-length, fed to the q325 Newton-logistic solver,
    // one model per source. The full pipeline — featurize, fit, score —
    // replays bit-for-bit in the oracle: per-bucket log-ratios and both
    // features are dec6-rounded, and the 4 Newton steps unroll via
    // NewtonSql with per-step-rounded betas (the q325 contract).
    "q338_quality_classifier" -> Q(
      (s, d) => {
        val base = classifierBase(s, d)
        graft.operators.RegressionOps.logisticNewton(base, "source",
            labelCol = col("keep"), "x1", "x2", iters = 4, scoreOut = dec6)
          .orderBy("source")
      },
      Some(s"""WITH $classifierBaseSql,
              |${NewtonSql.steps(4)},
              |jf AS (SELECT g, y, x1, x2, b0, b1, b2, ${NewtonSql.pExpr} AS p
              |  FROM base JOIN bt4 USING (g))
              |SELECT g AS source, CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(y) AS BIGINT) AS n_pos,
              |  any_value(b0) AS b0, any_value(b1) AS b1, any_value(b2) AS b2,
              |  ${r6("sum(y * ln(p) + (1.0 - y) * ln(1.0 - p))")} AS log_lik,
              |  ${r6("avg(CAST((p >= 0.5) = (y = 1.0) AS DOUBLE))")} AS accuracy
              |FROM jf GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Did training beat the folklore score? The q338 classifier's fitted
    // probability vs the q221/q237 heuristic quality score, both AUC'd
    // against the same weak label with the q237 midrank machinery — the
    // measured justification for swapping the curation funnel's static
    // score for the trained one. Scores are dec6-rounded before ranking
    // (bounded distinct support; the q237 global-window contract).
    "q339_classifier_eval" -> Q(
      (s, d) => {
        // lazy checkpoint (r13): the first Newton broadcast build
        // materializes the featurized frame inside its own job
        val base = classifierBase(s, d).localCheckpoint(eager = false)
        // β only + preMaterialized (r13): this query never reads the
        // solver diagnostics, and base is checkpointed right above —
        // skips one full scan, one broadcast build, one checkpoint job
        val beta = graft.operators.RegressionOps.logisticNewtonBetas(base,
          "source", labelCol = col("keep"), "x1", "x2", iters = 4,
          scoreOut = dec6, preMaterialized = true)
        val z = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
        val zc = least(lit(30.0), greatest(lit(-30.0), z))
        // ONE melted pass (r13, guide §2.3): the three model scores ride
        // the same base scan as (model, score) pairs into one grouped
        // rank pipeline — the former three rocAuc branches each re-scanned
        // base and ran their own distinct-score aggregate + rank window
        // (profiled: 3 × ~0.7 s final stages at sf0.1). Midranks are
        // per-model either way (the grouped window partitions by model),
        // and every sum in the AUC identity is exact in doubles
        // (half-integer midranks, integral counts), so the three AUC rows
        // are bit-identical to the branch version. beta joins every base
        // row: it is one row per source BY CONSTRUCTION (groupBy over
        // base, no null features upstream), so the inner join drops
        // nothing and "heuristic"/"nb_feature" see the same rows as the
        // former unjoined branches. The nb_feature ablation is the raw NB
        // log-ratio alone — what Newton's calibrated combination beats.
        val melted = base.join(beta, "source")
          .select(explode(array(
              struct(lit("trained_nblr").as("model"),
                dec6(lit(1.0) / (lit(1.0) + exp(-zc))).as("score")),
              struct(lit("heuristic").as("model"), col("hscore").as("score")),
              struct(lit("nb_feature").as("model"), col("x1").as("score"))))
            .as("ms"), col("keep"))
          .select(col("ms.model").as("model"), col("ms.score").as("score"),
            col("keep"))
        graft.operators.StatOps
          .rocAucBy(melted, "model", "score", "keep", scoreOut = dec6)
          .select("model", "n_pos", "n_neg", "n_scores", "auc")
          .orderBy("model")
      },
      Some(s"""WITH $classifierBaseSql,
              |${NewtonSql.steps(4)},
              |jf AS (SELECT g, y, hscore, x1, x2, b0, b1, b2,
              |  ${NewtonSql.pExpr} AS p FROM base JOIN bt4 USING (g)),
              |sc2 AS (SELECT 'trained_nblr' AS model, ${r6("p")} AS s, y FROM jf
              |  UNION ALL SELECT 'heuristic' AS model, hscore AS s, y FROM jf
              |  UNION ALL SELECT 'nb_feature' AS model, x1 AS s, y FROM jf),
              |bys AS (SELECT model, s, count(*) AS t, CAST(sum(y) AS BIGINT) AS tp
              |  FROM sc2 GROUP BY 1, 2),
              |rk AS (SELECT model, tp, t,
              |  (sum(t) OVER (PARTITION BY model ORDER BY s) * 2 - t + 1) / 2.0 AS midrank
              |  FROM bys),
              |ag AS (SELECT model, CAST(sum(tp) AS DOUBLE) AS np,
              |  CAST(sum(t - tp) AS DOUBLE) AS nn,
              |  count(*) AS n_scores, sum(tp * midrank) AS rp FROM rk GROUP BY 1)
              |SELECT model, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
              |  n_scores,
              |  CASE WHEN np > 0 AND nn > 0 THEN
              |    ${r6("(rp - np * (np + 1) / 2) / (np * nn)")} END AS auc
              |FROM ag ORDER BY model""".stripMargin)),

    // Curation funnel v2: q92's four-stage cascade (exact dedup →
    // near-dup clusters → benchmark decontamination → quality cut) with
    // the TRAINED q338 classifier probability as the quality score —
    // the swap q339 measured the case for (AUC 0.999 trained vs 0.841
    // heuristic). Both cuts run at the 70th percentile over the train
    // split so the comparison is kept-rate-matched: n_final_static is
    // exactly q92's n_final, n_final_trained is the v2 funnel, and the
    // swapped_in/out columns are the documents the upgrade actually
    // moves. The classifier is the q338 artifact verbatim (corpus-wide
    // fit, per source, 4 Newton steps, dec6 per step) — the oracle
    // replays featurize + fit + score via classifierBaseSql + NewtonSql
    // and the funnel stages via q92's window/recursive-CTE machinery.
    "q343_curation_funnel_v2" -> Q(
      (s, d) => {
        // lazy checkpoint + β-only solver (r13, same as q339): the first
        // Newton broadcast build materializes base; the unread diagnostics
        // pass (one scan + one broadcast build) is gone
        val base = classifierBase(s, d).localCheckpoint(eager = false)
        val beta = graft.operators.RegressionOps.logisticNewtonBetas(base,
          "source", labelCol = col("keep"), "x1", "x2", iters = 4,
          scoreOut = dec6, preMaterialized = true)
        val z = col("b0") + col("b1") * col("x1") + col("b2") * col("x2")
        val zc = least(lit(30.0), greatest(lit(-30.0), z))
        // beta is a 20-row per-source frame: size stats broadcast it on
        // their own (no explicit hint — the hint lint's bounded-subtree
        // proof doesn't extend through the grouped Newton aggregates)
        val scored = base.join(beta, "source")
          .select(col("doc_id"), col("hscore"),
            dec6(lit(1.0) / (lit(1.0) + exp(-zc))).as("p_keep"))
        val docs = Tables.documents(s, d)
        val eval = docs.filter(col("doc_id") % 37 === 0)
        val train = docs.filter(col("doc_id") % 37 =!= 0)
        val exact = graft.operators.DedupOps.exactDedup(train, "doc_id", "text")
          .select(col("doc_id"), col("is_duplicate").as("d_exact"))
        val near = graft.operators.DedupOps.nearDupClusters(train,
            graft.operators.DedupOps
              .ngramJaccardPairs(train, "doc_id", "text", 3, 0.5), "doc_id")
          .select(col("id").as("doc_id"), col("is_duplicate").as("d_near"))
        val contam = CorpusOps.contamination(train, eval, "doc_id", "text", n = 5)
          .select(col("doc_id"), col("contaminated"))
        val tsc = train.select("doc_id").join(scored, "doc_id")
        val cuts = tsc.agg(
          expr("percentile(hscore, 0.7)").as("cut_s"),
          expr("percentile(p_keep, 0.7)").as("cut_t"))
        val flags = exact.join(near, "doc_id").join(contam, "doc_id")
          .join(tsc, "doc_id").crossJoin(broadcast(cuts))
          .withColumn("ks", (col("hscore") >= col("cut_s")).cast("int"))
          .withColumn("kt", (col("p_keep") >= col("cut_t")).cast("int"))
        val clean = col("d_exact") === 0 && col("d_near") === 0 &&
          col("contaminated") === 0
        flags.agg(
            count(lit(1)).as("n_total"),
            sum(clean.cast("int")).as("n_clean"),
            sum((clean && col("ks") === 1).cast("int")).as("n_final_static"),
            sum((clean && col("kt") === 1).cast("int")).as("n_final_trained"),
            sum((clean && col("kt") === 1 && col("ks") === 0).cast("int"))
              .as("n_swapped_in"),
            sum((clean && col("kt") === 0 && col("ks") === 1).cast("int"))
              .as("n_swapped_out"))
          .select(col("n_total"), col("n_clean"),
            col("n_final_static"), col("n_final_trained"),
            col("n_swapped_in"), col("n_swapped_out"),
            dec6(col("n_final_static").cast("double") / col("n_total"))
              .as("kept_rate_static"),
            dec6(col("n_final_trained").cast("double") / col("n_total"))
              .as("kept_rate_trained"))
      },
      Some(s"""WITH RECURSIVE $classifierBaseSql,
              |${NewtonSql.steps(4)},
              |dsc AS (SELECT base.doc_id, base.hscore,
              |  ${r6(NewtonSql.pExpr)} AS p FROM base JOIN bt4 USING (g)),
              |train AS (SELECT * FROM documents WHERE doc_id % 37 <> 0),
              |ex AS (SELECT doc_id,
              |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
              |  FROM train),
              |exact AS (SELECT doc_id,
              |  CAST(doc_id <> min(doc_id) OVER (PARTITION BY fp) AS INT)
              |    AS d_exact FROM ex),
              |ftoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |  FROM train),
              |fsh AS (SELECT doc_id, list_distinct(list_transform(
              |  generate_series(1, greatest(len(t) - 2, 0)),
              |  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s FROM ftoks),
              |fp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM fsh a JOIN fsh b ON a.doc_id < b.doc_id
              |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              |    / len(list_distinct(a.s || b.s)) >= 0.5),
              |fed AS (SELECT id_a AS a, id_b AS b FROM fp
              |  UNION SELECT id_b, id_a FROM fp),
              |reach(a, b) AS (
              |  SELECT a, b FROM fed
              |  UNION
              |  SELECT r.a, fed.b FROM reach r JOIN fed ON r.b = fed.a),
              |near AS (SELECT t.doc_id,
              |  CAST(least(t.doc_id, coalesce(min(r.b), t.doc_id))
              |    <> t.doc_id AS INT) AS d_near
              |  FROM train t LEFT JOIN reach r ON r.a = t.doc_id
              |  GROUP BY t.doc_id),
              |sh5 AS (SELECT doc_id, list_distinct(list_transform(
              |  generate_series(1, greatest(len(t) - 4, 0)),
              |  i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS s
              |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              |    FROM documents)),
              |ev AS (SELECT DISTINCT unnest(s) AS g5 FROM sh5 WHERE doc_id % 37 = 0),
              |ftr AS (SELECT doc_id, unnest(s) AS g5 FROM sh5 WHERE doc_id % 37 <> 0),
              |contam AS (SELECT t.doc_id,
              |  CAST(count(ev.g5) > 0 AS INT) AS contaminated
              |  FROM (SELECT doc_id FROM train) t
              |  LEFT JOIN ftr ON ftr.doc_id = t.doc_id
              |  LEFT JOIN ev ON ftr.g5 = ev.g5 GROUP BY t.doc_id),
              |tsc AS (SELECT d2.doc_id, d2.hscore, d2.p
              |  FROM dsc d2 JOIN train t ON t.doc_id = d2.doc_id),
              |cuts AS (SELECT quantile_cont(hscore, 0.7) AS cut_s,
              |  quantile_cont(p, 0.7) AS cut_t FROM tsc),
              |flags AS (SELECT e.doc_id, d_exact, d_near, contaminated,
              |  CAST(hscore >= cut_s AS INT) AS ks,
              |  CAST(p >= cut_t AS INT) AS kt
              |  FROM exact e JOIN near USING (doc_id) JOIN contam USING (doc_id)
              |  JOIN tsc USING (doc_id), cuts)
              |SELECT count(*) AS n_total,
              |  CAST(sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0
              |    AS INT)) AS BIGINT) AS n_clean,
              |  CAST(sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0
              |    AND ks = 1 AS INT)) AS BIGINT) AS n_final_static,
              |  CAST(sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0
              |    AND kt = 1 AS INT)) AS BIGINT) AS n_final_trained,
              |  CAST(sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0
              |    AND kt = 1 AND ks = 0 AS INT)) AS BIGINT) AS n_swapped_in,
              |  CAST(sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0
              |    AND kt = 0 AND ks = 1 AS INT)) AS BIGINT) AS n_swapped_out,
              |  ${r6("sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0 AND ks = 1 AS INT)) / CAST(count(*) AS DOUBLE)")}
              |    AS kept_rate_static,
              |  ${r6("sum(CAST(d_exact = 0 AND d_near = 0 AND contaminated = 0 AND kt = 1 AS INT)) / CAST(count(*) AS DOUBLE)")}
              |    AS kept_rate_trained
              |FROM flags""".stripMargin)),
  )

  /** Shared featurization for the q338/q339 classifier pair: the q237
    * weak label, the NB log-count-ratio feature (per-bucket ratios
    * dec6-rounded inside [[graft.operators.CorpusOps.nbLogRatio]]), the
    * log-length feature, and the q221/q237 heuristic quality score —
    * every model input dec6-rounded so the DuckDB replay agrees exactly. */
  private def classifierBase(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val stop = Seq("a", "the", "and", "of", "in", "to")
    val tops = graft.operators.TextOps
    // spread the single-row-group scan BEFORE the Gopher HOFs:
    // topTokenFrac is O(distinct·tokens) per doc and profiled 1.2-1.4 s
    // single-task at sf0.1 (guide §2.5 input skew); project the three
    // used columns first so the rebalance shuffle stays narrow
    val docs = graft.operators.Spread.ifNarrow(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text")))
      .withColumn("t", tops.tokens(col("text")))
    // Gopher-style composite weak label: repetition gates (q237) PLUS
    // stopword density and minimum length (Rae et al. '21 §A1.1 flavor).
    // The q237 pair alone keeps 98.6% of this corpus — a degenerate
    // training target; the composite lands at ~38% positive with both
    // classes present in every source at sf0.001 and sf0.01 (probed).
    val srat = tops.markerCount(col("t"), stop) / size(col("t"))
    // materialize the label/length/heuristic columns ONCE: the Gopher
    // HOFs (topTokenFrac is O(distinct·tokens) per doc) would otherwise
    // evaluate twice — inside nbLogRatio's target expression AND in the
    // feature pass (measured ~2× the query's cost at sf0.1)
    val labeled = docs.select(col("doc_id"), col("source"), col("text"),
        (dec6(tops.topTokenFrac(col("t"))) <= 0.2 &&
          dec6(tops.dupBigramFrac(col("t"))) <= 0.3 &&
          dec6(srat) >= 0.05 &&
          size(col("t")) >= 50).cast("int").as("keep"),
        size(col("t")).as("nt"),
        dec6(least(lit(1.0), size(col("t")) / lit(200.0)) *
          (lit(1.0) - srat)).as("hscore"))
      // LAZY checkpoint (r13): the first action over this frame is
      // nbLogRatio's bucket-count collect, whose linear chain reads it
      // exactly once — the Gopher HOFs still evaluate once, inside that
      // job, and the dedicated eager-checkpoint job disappears
      .localCheckpoint(eager = false)
    val feats = CorpusOps.nbLogRatio(labeled, "doc_id", "text",
      isTarget = col("keep") === 1, buckets = 4096, n = 2)
    labeled
      .join(feats, "doc_id")
      .select(col("doc_id"), col("source"), col("keep"), col("hscore"),
        dec6(when(col("n_feats") > 0, col("nb_logratio") / col("n_feats"))
          .otherwise(lit(0.0))).as("x1"),
        dec6(log(col("nt").cast("double") + lit(1.0))).as("x2"))
  }

  /** DuckDB twin of [[classifierBase]], ending in a CTE named `base`
    * with (g, y, hscore, x1, x2) — the shape NewtonSql.steps expects.
    * A `def` (not a val): `queries` above initializes first and would
    * read a forward-referenced val as null. */
  private def classifierBaseSql: String =
    s"""tq AS (SELECT doc_id, source,
       |  string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |lab AS (SELECT doc_id, source, t, len(t) AS nt,
       |  CAST(${r6("tf")} <= 0.2 AND ${r6("dg")} <= 0.3
       |    AND ${r6("sr")} >= 0.05 AND len(t) >= 50 AS INT) AS keep,
       |  ${r6("least(1.0, len(t) / 200.0) * (1.0 - sr)")} AS hscore
       |  FROM (SELECT doc_id, source, t,
       |    CAST(len(list_filter(t, y -> list_contains(
       |      ['a', 'the', 'and', 'of', 'in', 'to'], y))) AS DOUBLE)
       |      / len(t) AS sr,
       |    CASE WHEN len(t) > 0 THEN
       |      CAST(list_max(list_transform(list_distinct(t),
       |        x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t)
       |    END AS tf,
       |    CASE WHEN len(t) > 1 THEN
       |      1.0 - CAST(len(list_distinct(list_transform(
       |        generate_series(1, len(t) - 1),
       |        i -> concat_ws(' ', t[i], t[i+1])))) AS DOUBLE) / (len(t) - 1)
       |    ELSE 0.0 END AS dg
       |    FROM tq)),
       |pos AS (SELECT doc_id, keep AS tgt,
       |  CAST(('0x' || substring(md5(g), 1, 3)) AS INT) % 4096 AS b
       |  FROM (SELECT doc_id, keep, unnest(list_transform(
       |    generate_series(1, greatest(len(t) - 1, 0)),
       |    i -> concat_ws(' ', t[i], t[i+1]))) AS g FROM lab)),
       |cnt AS (SELECT b, CAST(sum(tgt) AS DOUBLE) AS ct,
       |  CAST(sum(1 - tgt) AS DOUBLE) AS cr FROM pos GROUP BY b),
       |tot AS (SELECT sum(ct) AS ntc, sum(cr) AS nrc FROM cnt),
       |ratio AS (SELECT b, ${r6("""ln((ct + 1.0) / (ntc + 4096.0))
       |  - ln((cr + 1.0) / (nrc + 4096.0))""")} AS lr FROM cnt, tot),
       |sc AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS sl
       |  FROM pos JOIN ratio USING (b) GROUP BY doc_id),
       |base AS (SELECT l.doc_id, l.source AS g, CAST(l.keep AS DOUBLE) AS y,
       |  l.hscore,
       |  ${r6("""CASE WHEN coalesce(sc.n_feats, 0) > 0
       |    THEN sc.sl / sc.n_feats ELSE 0.0 END""")} AS x1,
       |  ${r6("ln(CAST(l.nt AS DOUBLE) + 1.0)")} AS x2
       |  FROM lab l LEFT JOIN sc USING (doc_id))""".stripMargin
}
