package graft.queries

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.functions.Text
import graft.operators.Sampling

/** ML data-prep operators over the documents table: deterministic
  * train/test splitting, vocabulary statistics, TF-IDF scoring, and
  * benchmark-contamination detection — the corpus-curation steps a
  * training-data pipeline runs between dedup and tokenization. All
  * oracle-checked (the md5 bucket, the token split, and the shingle
  * construction are engine-portable by design). */
object MlPrep {

  /** DuckDB mirror of [[Sampling.hashBucket]]. */
  private def bucketSql(id: String) = s"substr(md5(CAST($id AS VARCHAR)), 1, 4)"

  /** Deterministic train/test split (20% test): per-split row counts
    * and id spot checks. The bucket is a pure function of doc_id, so
    * both engines agree row-by-row. */
  val q50TrainTestSplit = GraftQuery(
    "q50_train_test_split",
    (s, dir) =>
      Sampling.trainTestSplit(Tables.documents(s, dir), "doc_id", testFraction = 0.2)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split"),
    Some(s"""SELECT CASE WHEN ${bucketSql("doc_id")} < '3333'
            |            THEN 'test' ELSE 'train' END AS split,
            |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
            |FROM documents
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Vocabulary statistics: top-20 tokens by document frequency with a
    * deterministic rank tiebreak — the vocabulary-building pass. */
  val q51VocabTopK = GraftQuery(
    "q51_vocab_topk",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      toks.groupBy("tok").agg(count(lit(1)).as("doc_freq"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("doc_freq").desc, col("tok").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select("rank", "tok", "doc_freq")
        .orderBy("rank")
    },
    Some("""WITH toks AS (
           |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           |  FROM documents),
           |df AS (SELECT tok, count(*) AS doc_freq FROM toks GROUP BY 1)
           |SELECT rank, tok, doc_freq FROM (
           |  SELECT tok, doc_freq,
           |    row_number() OVER (ORDER BY doc_freq DESC, tok ASC) AS rank
           |  FROM df)
           |WHERE rank <= 20 ORDER BY rank""".stripMargin))

  /** TF-IDF per (doc, term) for a probe id range: term frequency ×
    * ln(N/df), the classic relevance weighting — two grouped
    * aggregates plus a one-row broadcast total, no per-term rescan.
    * Identical operation order in the oracle keeps doubles aligned;
    * round(6) absorbs libm ulp differences. */
  val q52Tfidf = GraftQuery(
    "q52_tfidf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfreq = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dl, "doc_id")
        .join(dfreq, "tok")
        .crossJoin(broadcast(total))
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), col("tok"),
          round((col("tf").cast("double") / col("dl").cast("double")) *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
        .orderBy("doc_id", "tok")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           |  FROM documents),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           |dfreq AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1),
           |total AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT tf.doc_id, tf.tok,
           |  round((CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)) *
           |    ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
           |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (tok) CROSS JOIN total
           |WHERE tf.doc_id < 30
           |ORDER BY doc_id, tok""".stripMargin))

  /** Benchmark-contamination check: corpus documents sharing a 5-gram
    * with any "benchmark" document (here: doc_id < 20), with the count
    * of distinct benchmark docs hit — the eval-leakage scan every
    * training corpus needs. Shingle equi-join, no cross join. */
  val q53Contamination = GraftQuery(
    "q53_contamination",
    (s, dir) => {
      val sh = graft.operators.FanOut(Tables.documents(s, dir))
        .select(col("doc_id"), explode(array_distinct(Text.wordShingles(col("text"), 5))).as("s"))
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("s"), col("doc_id").as("bench_id")).distinct()
      sh.filter(col("doc_id") >= 20)
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(countDistinct("bench_id").as("n_bench_docs"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    ws[i.g] || ' ' || ws[i.g+1] || ' ' || ws[i.g+2] || ' ' || ws[i.g+3] || ' ' || ws[i.g+4] AS s
           |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) g) i
           |  WHERE len(ws) >= 5),
           |bench AS (SELECT DISTINCT s, doc_id AS bench_id FROM sh WHERE doc_id < 20)
           |SELECT sh.doc_id, count(DISTINCT bench_id) AS n_bench_docs
           |FROM sh JOIN bench USING (s)
           |WHERE sh.doc_id >= 20
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The end-to-end pretraining corpus pipeline, composed from the
    * library's own operators: Gopher quality gate → exact dedup (min
    * id per content hash) → MinHash/LSH near-dup clustering with one
    * survivor per component → deterministic train/test split. The
    * oracle replays every stage in DuckDB (recursive CTE for the
    * connected components), so the gate checks the full composition
    * per document, not just counts. */
  val q70PretrainPipeline = GraftQuery(
    "q70_pretrain_pipeline",
    (s, dir) => {
      import graft.functions.Quality
      import graft.operators.Dedup
      val docs = Tables.documents(s, dir)
      val gated = docs.filter(Quality.passesGopher(col("text")))
      val keepIds = gated.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      // scanned three times (signatures, survivor anti-join, split) —
      // cache the gated+deduped set instead of re-running the gate
      val exactKept = gated.join(keepIds, Seq("doc_id"), "left_semi").cache()
      val pairs = Dedup.minHashCandidatePairs(exactKept,
          numHashes = 8, bandSize = 2, shingleLen = 3)
        .filter(col("est_jaccard") >= 0.5)
      val cc = Dedup.connectedComponents(pairs)
      val drop = cc.join(
          cc.groupBy("component").agg(min("id").as("keep")), "component")
        .filter(col("id") =!= col("keep"))
        .select(col("id").as("doc_id"))
      val survivors = exactKept.join(drop, Seq("doc_id"), "left_anti")
      Sampling.trainTestSplit(survivors, "doc_id", testFraction = 0.2)
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE t AS (
            |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS ws,
            |         string_split_regex(trim(lower(text)), '\\s+') AS wl
            |  FROM documents),
            |g AS (
            |  SELECT doc_id, text, ws FROM t
            |  WHERE len(ws) BETWEEN 50 AND 100000
            |    AND list_sum(list_transform(ws, x -> len(x))) * 1.0 / len(ws)
            |        BETWEEN 3.0 AND 10.0
            |    AND len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
            |        / len(ws) > 0.8
            |    AND len(list_filter(wl, x -> x IN ('a','the','of','to','and','is','in'))) >= 2),
            |ek AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
            |kept0 AS (SELECT g.doc_id, g.ws FROM g JOIN ek USING (doc_id)),
            |sh AS (
            |  SELECT DISTINCT doc_id, ws[i.g] || ' ' || ws[i.g+1] || ' ' || ws[i.g+2] AS s
            |  FROM kept0, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) g) i
            |  WHERE len(ws) >= 3),
            |mh AS (
            |  SELECT doc_id, h.g AS h, min(md5(h.g || ':' || s)) AS mh
            |  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) g) h
            |  GROUP BY doc_id, h.g),
            |bands AS (
            |  SELECT doc_id, h // 2 AS band,
            |         string_agg(mh, '|' ORDER BY h) AS band_key
            |  FROM mh GROUP BY doc_id, h // 2),
            |cands AS (
            |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM bands a JOIN bands b
            |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
            |pairs AS (
            |  SELECT id_a, id_b
            |  FROM cands
            |  JOIN mh sa ON sa.doc_id = id_a
            |  JOIN mh sb ON sb.doc_id = id_b AND sa.h = sb.h
            |  GROUP BY id_a, id_b
            |  HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) * 1.0 / 8 >= 0.5),
            |edges AS (
            |  SELECT id_a AS src, id_b AS dst FROM pairs
            |  UNION SELECT id_b, id_a FROM pairs),
            |reach(id, comp) AS (
            |  SELECT DISTINCT src, src FROM edges
            |  UNION
            |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
            |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
            |keepmin AS (SELECT component, min(id) AS keep FROM cc GROUP BY 1),
            |dropids AS (
            |  SELECT id FROM cc JOIN keepmin USING (component) WHERE id <> keep),
            |survivors AS (
            |  SELECT doc_id FROM kept0
            |  WHERE doc_id NOT IN (SELECT id FROM dropids))
            |SELECT doc_id,
            |  CASE WHEN ${bucketSql("doc_id")} < '3333' THEN 'test' ELSE 'train' END AS split
            |FROM survivors ORDER BY doc_id""".stripMargin))

  /** Sequence packing (greedy concat-and-split): documents are laid
    * out in id order and cut into fixed token-budget bins — the step
    * that turns a cleaned corpus into fixed-length training sequences.
    * A document belongs to the bin where it starts (floor of the
    * exclusive running token count / budget). The running sum is the
    * two-phase [[graft.operators.GlobalRank.exclusiveCumSum]] — no
    * single-partition window at any input size. */
  val q86SequencePacking = GraftQuery(
    "q86_sequence_packing",
    (s, dir) => {
      val budget = 2048
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.GlobalRank
        .exclusiveCumSum(docs, "offset", col("n_tokens"), col("doc_id"))
        .withColumn("bin_id", (col("offset") / budget).cast("long"))
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |o AS (
           |  SELECT doc_id, n_tokens,
           |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM t)
           |SELECT CAST(off // 2048 AS BIGINT) AS bin_id, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM o GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Mixture (curriculum) sampling: per-source keep rates applied via
    * the deterministic md5 bucket — the data-mixing step that reweights
    * corpus sources. Rates ride a broadcast dimension; membership is a
    * pure row function, so the sample is reproducible and
    * partitioning-invariant (same contract as q50's split). */
  val q87MixtureSample = GraftQuery(
    "q87_mixture_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // even sources keep 75%, odd keep 25% — a 2-tier mixture
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate",
          when(substring(col("source"), 4, 10).cast("int") % 2 === 0, 0.75)
            .otherwise(0.25))
      val bucket = Sampling.hashBucket(col("doc_id"))
      val threshold = udfFreeThreshold(col("rate"))
      docs.join(broadcast(rates), "source")
        .filter(bucket < threshold)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },
    Some(s"""WITH rates AS (
            |  SELECT source,
            |    CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
            |         THEN 0.75 ELSE 0.25 END AS rate
            |  FROM (SELECT DISTINCT source FROM documents)),
            |kept AS (
            |  SELECT d.source FROM documents d JOIN rates r ON d.source = r.source
            |  WHERE ${bucketSql("doc_id")} <
            |    lpad(lower(to_hex(CAST(floor(r.rate * 65536) AS INTEGER))), 4, '0'))
            |SELECT source, count(*) AS n_kept FROM kept
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** 4-hex-digit threshold for a fractional keep rate, computed in-plan
    * (no UDF): floor(rate·65536) rendered as a lowercase 4-char hex
    * string, comparable against [[Sampling.hashBucket]]. */
  private def udfFreeThreshold(rate: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(lower(hex(floor(rate * 65536).cast("int"))), 4, "0")

  /** Equal-frequency (quantile) binning — feature discretization:
    * deciles of line price assigned from the two-phase global row
    * number (no single-partition window, no ntile), bucket =
    * floor((rn−1)·10 / n). The one-row count rides a broadcast. */
  val q92QuantileBinning = GraftQuery(
    "q92_quantile_binning",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_extendedprice").as("price"), col("l_orderkey"),
          col("l_linenumber"))
      val ranked = graft.operators.GlobalRank.rowNumber(li, "rn",
        col("price"), col("l_orderkey"), col("l_linenumber"))
      // count the input, not `ranked`: the rank would run twice
      val total = li.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(total))
        .withColumn("bucket", ((col("rn") - 1) * 10 / col("n")).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          round(min("price"), 2).as("lo"), round(max("price"), 2).as("hi"))
        .orderBy("bucket")
    },
    Some("""WITH r AS (
           |  SELECT l_extendedprice AS price,
           |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           |      AS rn,
           |    count(*) OVER () AS n
           |  FROM lineitem)
           |SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bucket,
           |  count(*) AS n_rows, round(min(price), 2) AS lo,
           |  round(max(price), 2) AS hi
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Feature hashing (the hashing trick): tokens map to a fixed
    * 256-bucket space via a portable md5-prefix hash; per-doc sparse
    * counts for a probe id range. No vocabulary state at all — the
    * property that makes featurization embarrassingly parallel at
    * 100 TB. */
  val q93FeatureHash = GraftQuery(
    "q93_feature_hash",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("doc_id") < 10)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      toks
        .withColumn("bucket",
          (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 256))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, tok.t AS tok
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') ws
           |        FROM documents WHERE doc_id < 10),
           |       LATERAL (SELECT unnest(ws) t) tok)
           |SELECT doc_id,
           |  CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 256 AS BIGINT)
           |    AS bucket,
           |  count(*) AS cnt
           |FROM toks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Stratified subsample: the 5 deterministically-chosen documents
    * per (lang, source) stratum, ranked by md5(doc_id) — the
    * "inspect a fixed random-but-reproducible handful per slice"
    * pass every corpus audit starts with. Routed through the native
    * [[graft.plans.TopK]] operator, so per-stratum selection is a
    * bounded-heap partial reduction (shuffle carries ≤ k rows per
    * stratum per map partition — never the corpus) instead of a full
    * window sort. The md5 rank key is engine-portable, so the sample
    * is identical across engines, runs, and partitionings. */
  val q100StratifiedSample = GraftQuery(
    "q100_stratified_sample",
    (s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("lang"), col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("sk"))
      graft.plans.TopK.topKPerGroup(keyed,
          Seq(col("lang"), col("source")),
          Seq(col("sk").asc, col("doc_id").asc), 5)
        .select("lang", "source", "doc_id")
        .orderBy("lang", "source", "doc_id")
    },
    Some("""SELECT lang, source, doc_id FROM (
           |  SELECT lang, source, doc_id,
           |    row_number() OVER (PARTITION BY lang, source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 5 ORDER BY lang, source, doc_id""".stripMargin))

  /** Weighted corpus subsample: top-20 documents under an
    * Efraimidis–Spirakis draw weighted by length — the
    * "sample longer/higher-quality docs proportionally more" pass of
    * curriculum/mixture construction, deterministic and
    * engine-portable ([[Sampling.weightedSampleKey]]). orderBy+limit
    * plans as TakeOrderedAndProject: bounded heaps, no global sort. */
  val q106WeightedSample = GraftQuery(
    "q106_weighted_sample",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          Sampling.weightedSampleKey(col("doc_id"), col("n_chars")).as("skey"))
        .orderBy(col("skey").desc, col("doc_id").asc)
        .limit(20)
        .withColumn("skey", round(col("skey"), 9)),
    Some("""SELECT doc_id, source, n_chars, round(skey, 9) AS skey FROM (
           |  SELECT doc_id, source, n_chars,
           |    ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
           |       / (power(2, 48) + 1)) / n_chars AS skey
           |  FROM documents)
           |ORDER BY skey DESC, doc_id LIMIT 20""".stripMargin))

  /** Decontaminated train/test split: the q50 hash split HARDENED the
    * way an eval-safe pipeline must be — any train document sharing
    * ≥ 3 distinct 5-gram shingles with ANY test document is dropped
    * from train (it would leak eval data into training). The test
    * shingle vocabulary is a distinct dimension-sized set; the scan is
    * one shingle equi-join + per-doc distinct count, never a doc×doc
    * comparison. */
  val q110DecontaminatedSplit = GraftQuery(
    "q110_decontaminated_split",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tagged = Sampling.trainTestSplit(docs, "doc_id", testFraction = 0.2)
      val sh = graft.operators.FanOut(tagged)
        .select(col("doc_id"), col("split"),
          explode(array_distinct(Text.wordShingles(col("text"), 5))).as("s"))
      val testVocab = sh.filter(col("split") === "test").select("s").distinct()
      val leaked = sh.filter(col("split") === "train")
        .join(testVocab, "s")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .select(col("doc_id"), lit(true).as("leaked"))
      tagged.join(leaked, Seq("doc_id"), "left")
        .withColumn("final_split",
          when(col("split") === "test", "test")
            .when(col("leaked"), "dropped")
            .otherwise("train"))
        .groupBy("final_split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("final_split")
    },
    Some(s"""WITH tagged AS (
            |  SELECT doc_id, text,
            |    CASE WHEN ${bucketSql("doc_id")} < '3333'
            |         THEN 'test' ELSE 'train' END AS split
            |  FROM documents),
            |toks AS (SELECT doc_id, split,
            |           string_split_regex(trim(text), '\\s+') AS ws FROM tagged),
            |sh AS (
            |  SELECT DISTINCT doc_id, split,
            |    ws[i.g] || ' ' || ws[i.g+1] || ' ' || ws[i.g+2] || ' ' ||
            |    ws[i.g+3] || ' ' || ws[i.g+4] AS s
            |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) g) i
            |  WHERE len(ws) >= 5),
            |testv AS (SELECT DISTINCT s FROM sh WHERE split = 'test'),
            |leaked AS (
            |  SELECT sh.doc_id FROM sh JOIN testv USING (s)
            |  WHERE sh.split = 'train'
            |  GROUP BY sh.doc_id HAVING count(*) >= 3)
            |SELECT CASE WHEN split = 'test' THEN 'test'
            |            WHEN doc_id IN (SELECT doc_id FROM leaked) THEN 'dropped'
            |            ELSE 'train' END AS final_split,
            |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
            |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin))

  /** BM25 top-5 retrieval for a fixed probe-query set (Okapi k1=1.2,
    * b=0.75, the Robertson/Spärck Jones formulation Lucene defaults
    * to): per-term weights from one tokenize pass (tf, dl, df, avgdl —
    * the same frames as q52's TF-IDF), restricted to probe terms by a
    * broadcast join BEFORE the df/dl joins so only matching postings
    * flow, then summed per (query, doc) and ranked. At 100 TB the
    * postings restriction is the story: the probe-term broadcast
    * prunes the tf frame to O(matching postings) ahead of every
    * shuffle, and the corpus statistics are one-row broadcasts.
    * Per-term weights snap to 1e-9 before the sum (ln() may differ by
    * 1 ulp between JVM and libm) and ranking uses the ROUNDED score so
    * both engines order identically; ties break on doc_id. */
  val q169Bm25Retrieval = GraftQuery(
    "q169_bm25_retrieval",
    (s, dir) => {
      import s.implicits._
      val probes = Seq((1L, "spark"), (1L, "join"), (2L, "window"),
        (2L, "agg"), (2L, "stream"), (3L, "hash"), (3L, "table"))
        .toDF("query_id", "term")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfreq = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val wt = tf.join(broadcast(probes), Seq("term"))
        .join(dfreq, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              col("dl") / col("avgdl"))), 9).as("w"))
      val scored = wt.groupBy("query_id", "doc_id")
        .agg(round(sum(col("w")), 6).as("score"))
      // native TopKPerGroup prunes to 5 rows/query with a bounded heap
      // per partition — the rank window then runs over ≤ 5 rows per
      // group instead of the full scored posting set
      graft.plans.TopK.topKPerGroup(scored, Seq(col("query_id")),
          Seq(col("score").desc, col("doc_id").asc), 5)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    },
    Some("""WITH probes(query_id, term) AS (VALUES
           |    (CAST(1 AS BIGINT),'spark'),(1,'join'),(2,'window'),
           |    (2,'agg'),(2,'stream'),(3,'hash'),(3,'table')),
           |toks AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           |dfreq AS (SELECT term, count(*) AS df
           |          FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
           |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
           |w AS (
           |  SELECT p.query_id, tf.doc_id,
           |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
           |      (tf * 2.2) /
           |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS w
           |  FROM tf JOIN probes p USING (term) JOIN dfreq USING (term)
           |    JOIN dl USING (doc_id) CROSS JOIN stats),
           |sc AS (SELECT query_id, doc_id, round(sum(w), 6) AS score
           |       FROM w GROUP BY 1, 2)
           |SELECT query_id, rank, doc_id, score FROM (
           |  SELECT query_id, doc_id, score,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id ASC) AS rank
           |  FROM sc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Deterministic corpus shuffle + sharding — the last step before a
    * training run: order documents by a salted content-independent md5
    * key (a reproducible pseudo-random permutation; same salt → same
    * order on any engine, any partitioning, any run) and deal them
    * round-robin into 8 shards. The global order comes from
    * [[graft.operators.GlobalRank.rowNumber]] — a range exchange plus
    * per-partition windows, never the single-partition sort a bare
    * `row_number() OVER (ORDER BY key)` plans — so the shuffle step
    * scales with executors. The audit output is per-shard: row counts
    * prove the deal is balanced (±1), char sums show the hash key left
    * no size bias, and min-key/id checksums witness the exact
    * permutation. */
  val q182CorpusShards = GraftQuery(
    "q182_corpus_shards",
    (s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("skey", md5(concat(col("doc_id").cast("string"), lit(":42"))))
      graft.operators.GlobalRank.rowNumber(keyed, "rn", col("skey"))
        .withColumn("shard", (col("rn") - 1L) % 8L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(col("doc_id")).as("sum_doc"),
          min(col("skey")).as("first_key"))
        .orderBy("shard")
    },
    Some("""WITH k AS (
           |  SELECT doc_id, n_chars,
           |    md5(CAST(doc_id AS VARCHAR) || ':42') AS skey
           |  FROM documents),
           |r AS (SELECT *, row_number() OVER (ORDER BY skey) AS rn FROM k)
           |SELECT (rn - 1) % 8 AS shard,
           |  count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
           |  min(skey) AS first_key
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Top-p (nucleus) vocabulary truncation per source: the SMALLEST
    * token set whose cumulative frequency reaches p=0.9 — the
    * adaptive-size counterpart of q51's fixed top-k (a skewed source
    * keeps few tokens, a flat one keeps many). One window cumsum
    * PARTITIONED BY source (vocabulary-sized input, parallel across
    * sources — never a corpus-sized sort), standard nucleus boundary
    * rule: a token is kept iff the mass BEFORE it is < p·total, so the
    * crossing token is included. Integer frequencies throughout; the
    * p·total comparison is exact via 10·cum < 9·total. */
  val q191VocabTopP = GraftQuery(
    "q191_vocab_top_p",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("freq").desc, col("tok").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val freqs = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(regexp_replace(lower(col("text")), "[^a-z]+", " "), " "))
            .as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("freq"))
      val tot = freqs.groupBy("source").agg(sum("freq").as("total"))
      freqs.join(broadcast(tot), "source")
        .withColumn("before", coalesce(sum("freq").over(w), lit(0L)))
        .withColumn("kept", col("before") * 10 < col("total") * 9)
        .groupBy("source")
        .agg(count(lit(1)).as("vocab_size"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_tokens"),
          round(sum(when(col("kept"), col("freq")).otherwise(0L)) /
            max("total").cast("double"), 6).as("coverage"))
        .orderBy("source")
    },
    Some("""WITH freqs AS (
           |  SELECT source, tok, count(*) AS freq FROM (
           |    SELECT source, unnest(string_split(
           |      regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ')) AS tok
           |    FROM documents) t
           |  WHERE tok <> '' GROUP BY 1, 2),
           |tot AS (SELECT source, CAST(sum(freq) AS BIGINT) AS total
           |        FROM freqs GROUP BY 1),
           |cum AS (
           |  SELECT f.source, f.freq, t.total,
           |    COALESCE(sum(f.freq) OVER (PARTITION BY f.source
           |      ORDER BY f.freq DESC, f.tok
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           |  FROM freqs f JOIN tot t USING (source))
           |SELECT source, count(*) AS vocab_size,
           |  CAST(sum(CASE WHEN before * 10 < total * 9 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS kept_tokens,
           |  round(sum(CASE WHEN before * 10 < total * 9 THEN freq ELSE 0 END)
           |    / CAST(max(total) AS DOUBLE), 6) AS coverage
           |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin))

  /** OOV mapping under the learned top-p vocabulary — the step AFTER
    * q191's truncation decision: tokens outside the per-source 90%
    * cumulative-frequency vocabulary map to `<unk>`, and the gate pins
    * the MAPPED frequency table itself (md5-slice checksum over
    * (token, freq) rows), not just counts — so a wrong boundary, a
    * dropped token, or an unk miscount all diverge. `oov_rate` is the
    * vocabulary-coverage metric a tokenizer rollout alerts on. Both
    * aggregations run on the vocabulary-sized frequency table, never
    * the corpus. */
  val q198OovRate = GraftQuery(
    "q198_oov_rate",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("freq").desc, col("tok").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val freqs = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(regexp_replace(lower(col("text")), "[^a-z]+", " "), " "))
            .as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("freq"))
      val tot = freqs.groupBy("source").agg(sum("freq").as("total"))
      val mapped = freqs.join(broadcast(tot), "source")
        .withColumn("before", coalesce(sum("freq").over(w), lit(0L)))
        .select(col("source"),
          when(col("before") * 10 < col("total") * 9, col("tok"))
            .otherwise("<unk>").as("mtok"),
          col("freq"))
        .groupBy("source", "mtok").agg(sum("freq").as("mfreq"))
      mapped
        .groupBy("source")
        .agg(sum("mfreq").as("n_tokens"),
          coalesce(sum(when(col("mtok") === "<unk>", col("mfreq"))), lit(0L))
            .as("n_unk"),
          count(lit(1)).as("n_mapped_distinct"),
          sum(conv(substring(md5(concat_ws("|", col("mtok"),
            col("mfreq").cast("string"))), 1, 8), 16, 10).cast("long"))
            .as("map_checksum"))
        .select(col("source"), col("n_tokens"), col("n_unk"),
          round(col("n_unk") / col("n_tokens").cast("double"), 6)
            .as("oov_rate"),
          col("n_mapped_distinct"), col("map_checksum"))
        .orderBy("source")
    },
    Some("""WITH freqs AS (
           |  SELECT source, tok, count(*) AS freq FROM (
           |    SELECT source, unnest(string_split(
           |      regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' ')) AS tok
           |    FROM documents) t
           |  WHERE tok <> '' GROUP BY 1, 2),
           |tot AS (SELECT source, CAST(sum(freq) AS BIGINT) AS total
           |        FROM freqs GROUP BY 1),
           |cum AS (
           |  SELECT f.source, f.tok, f.freq, t.total,
           |    COALESCE(sum(f.freq) OVER (PARTITION BY f.source
           |      ORDER BY f.freq DESC, f.tok
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           |  FROM freqs f JOIN tot t USING (source)),
           |mapped AS (
           |  SELECT source,
           |    CASE WHEN before * 10 < total * 9 THEN tok ELSE '<unk>' END
           |      AS mtok,
           |    CAST(sum(freq) AS BIGINT) AS mfreq
           |  FROM cum GROUP BY 1, 2)
           |SELECT source, CAST(sum(mfreq) AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(sum(CASE WHEN mtok = '<unk>' THEN mfreq END), 0)
           |    AS BIGINT) AS n_unk,
           |  round(COALESCE(sum(CASE WHEN mtok = '<unk>' THEN mfreq END), 0)
           |    / CAST(sum(mfreq) AS DOUBLE), 6) AS oov_rate,
           |  count(*) AS n_mapped_distinct,
           |  CAST(sum(('0x' || substr(md5(mtok || '|' || mfreq), 1, 8))::BIGINT)
           |    AS BIGINT) AS map_checksum
           |FROM mapped GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Join-skew diagnostic: per-key frequency profile for the engine's
    * three hottest join keys, with the salt factor
    * [[graft.operators.SkewJoin.saltedJoin]] would need — max key
    * frequency over the exact p95 frequency, clamped to [1, 32]. The
    * profile runs on the KEY-FREQUENCY table (vocabulary-sized), so
    * the rank window costs nothing next to the joins it tunes; p95 is
    * picked by exact rank (ceil(0.95·n)), not an interpolating
    * percentile, so both engines agree bit-for-bit. */
  val q192SkewDiagnostic = GraftQuery(
    "q192_skew_diagnostic",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      def profile(df: DataFrame, key: String, label: String): DataFrame = {
        val freqs = df.groupBy(col(key).as("k"))
          .agg(count(lit(1)).as("freq"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").asc, col("k").asc)
        val ranked = freqs.withColumn("rn", row_number().over(w))
        val n = ranked.agg(count(lit(1)).as("n_keys"),
          sum("freq").as("n_rows"), max("freq").as("max_freq"))
        val p95 = ranked.join(broadcast(n),
            col("rn") === ceil(col("n_keys") * 0.95).cast("int"))
          .select(col("freq").as("p95_freq"), col("n_keys"),
            col("n_rows"), col("max_freq"))
        p95.select(
          lit(label).as("key_name"), col("n_keys"), col("n_rows"),
          col("max_freq"), col("p95_freq"),
          round(col("max_freq") / col("p95_freq").cast("double"), 4)
            .as("skew_ratio"),
          least(greatest(ceil(col("max_freq") / col("p95_freq").cast("double"))
            .cast("long"), lit(1L)), lit(32L)).as("salt_factor"))
      }
      profile(Tables.events(s, dir), "user_id", "events.user_id")
        .unionByName(profile(Tables.lineitem(s, dir), "l_partkey",
          "lineitem.l_partkey"))
        .unionByName(profile(Tables.orders(s, dir), "o_custkey",
          "orders.o_custkey"))
        .orderBy("key_name")
    },
    Some("""WITH src AS (
           |  SELECT 'events.user_id' AS key_name, CAST(user_id AS VARCHAR) AS k
           |  FROM events
           |  UNION ALL
           |  SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
           |  UNION ALL
           |  SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
           |freqs AS (
           |  SELECT key_name, k, count(*) AS freq FROM src GROUP BY 1, 2),
           |ranked AS (
           |  SELECT key_name, freq,
           |    row_number() OVER (PARTITION BY key_name
           |      ORDER BY freq ASC, k ASC) AS rn
           |  FROM freqs),
           |stats AS (
           |  SELECT key_name, count(*) AS n_keys,
           |    CAST(sum(freq) AS BIGINT) AS n_rows,
           |    CAST(max(freq) AS BIGINT) AS max_freq
           |  FROM ranked GROUP BY 1)
           |SELECT r.key_name, s.n_keys, s.n_rows, s.max_freq,
           |  CAST(r.freq AS BIGINT) AS p95_freq,
           |  round(s.max_freq / CAST(r.freq AS DOUBLE), 4) AS skew_ratio,
           |  least(greatest(CAST(ceil(s.max_freq / CAST(r.freq AS DOUBLE))
           |    AS BIGINT), 1), 32) AS salt_factor
           |FROM ranked r JOIN stats s USING (key_name)
           |WHERE r.rn = CAST(ceil(s.n_keys * 0.95) AS INTEGER)
           |ORDER BY r.key_name""".stripMargin))

  /** Exact distributed quantiles (percentile_disc semantics: the value
    * at rank ceil(p·n)) of l_quantity per l_returnflag, computed from
    * the VALUE-FREQUENCY table rather than by sorting the fact rows:
    * groupBy(group, value) collapses the corpus to its value
    * vocabulary (l_quantity has ~50 distinct values), a per-group
    * cumulative sum ranks it, and each quantile is the min value whose
    * cumulative count reaches the target rank.
    *
    * Scale: the only window runs over the vocabulary-sized frequency
    * table (dozens of rows per group), never the fact table — exact
    * quantiles at 100 TB cost one map-side-combined aggregation. This
    * is the right form whenever the value domain is bounded
    * (quantities, ratings, bucketed metrics); for unbounded doubles
    * the engine's paths are fixed-width binning (q92) or sketches
    * (q34's KMV family). Rank arithmetic (ceil of n·p) uses the same
    * IEEE double product in both engines, and the output values are
    * untouched table values — no float synthesis anywhere. */
  val q205GroupQuantiles = GraftQuery(
    "q205_group_quantiles",
    (s, dir) => {
      val freq = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val n = freq.groupBy("l_returnflag").agg(sum("cnt").as("n"))
      def q(p: Double, name: String) =
        min(when(col("cum") >= ceil(col("n") * p), col("l_quantity"))).as(name)
      freq.withColumn("cum", sum("cnt").over(w))
        .join(broadcast(n), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max("n").as("n_rows"), q(0.25, "p25"), q(0.5, "p50"),
          q(0.75, "p75"), q(0.95, "p95"))
        .orderBy("l_returnflag")
    },
    Some("""WITH freq AS (
           |  SELECT l_returnflag, l_quantity, count(*) AS cnt
           |  FROM lineitem GROUP BY 1, 2),
           |cum AS (
           |  SELECT l_returnflag, l_quantity, cnt,
           |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM freq),
           |n AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n FROM freq
           |      GROUP BY 1)
           |SELECT c.l_returnflag, max(n.n) AS n_rows,
           |  min(CASE WHEN cum >= ceil(n.n * 0.25) THEN l_quantity END) AS p25,
           |  min(CASE WHEN cum >= ceil(n.n * 0.5) THEN l_quantity END) AS p50,
           |  min(CASE WHEN cum >= ceil(n.n * 0.75) THEN l_quantity END) AS p75,
           |  min(CASE WHEN cum >= ceil(n.n * 0.95) THEN l_quantity END) AS p95
           |FROM cum c JOIN n USING (l_returnflag)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Temperature-scaled mixture weights (the multilingual-pretraining
    * sampler from XLM-R/mT5): source i is sampled with probability
    * p_i ∝ n_i^α, α = 0.3 — upweighting small sources without letting
    * any dominate. Reports per source the sampling probability and the
    * implied epochs (how many passes over the source one corpus-epoch
    * of sampling makes): epochs_i = p_i · N_total / n_i > 1 for small
    * sources, < 1 for large ones.
    *
    * Scale: one map-side-combined aggregation to per-source byte
    * totals (sources: dozens of rows), then a one-row broadcast of the
    * normalizer. Exactness: n_i^0.3 is floored to integer nano-units
    * immediately (one pow per source, identical IEEE input in both
    * engines), so the normalizing sum is a sum of longs; the published
    * ratios are then two exact-integer divisions with a fixed
    * parenthesization. */
  val q209TemperatureMixture = GraftQuery(
    "q209_temperature_mixture",
    (s, dir) => {
      val n = Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_bytes"))
      val w = n.withColumn("w_scaled",
        floor(pow(col("n_bytes").cast("double"), 0.3) * 1e9).cast("long"))
      val tot = w.agg(sum("w_scaled").as("w_tot"), sum("n_bytes").as("b_tot"))
      w.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_bytes"),
          round(col("w_scaled") / col("w_tot").cast("double"), 6).as("p"),
          round((col("w_scaled") / col("w_tot").cast("double")) *
            (col("b_tot") / col("n_bytes").cast("double")), 6).as("epochs"))
        .orderBy("source")
    },
    Some("""WITH n AS (
           |  SELECT source, count(*) AS n_docs,
           |    CAST(sum(n_chars) AS BIGINT) AS n_bytes
           |  FROM documents GROUP BY 1),
           |w AS (
           |  SELECT source, n_docs, n_bytes,
           |    CAST(floor(pow(CAST(n_bytes AS DOUBLE), 0.3) * 1e9) AS BIGINT)
           |      AS w_scaled
           |  FROM n),
           |tot AS (
           |  SELECT CAST(sum(w_scaled) AS BIGINT) AS w_tot,
           |    CAST(sum(n_bytes) AS BIGINT) AS b_tot FROM w)
           |SELECT source, n_docs, n_bytes,
           |  round(w_scaled / CAST(w_tot AS DOUBLE), 6) AS p,
           |  round((w_scaled / CAST(w_tot AS DOUBLE)) *
           |    (b_tot / CAST(n_bytes AS DOUBLE)), 6) AS epochs
           |FROM w CROSS JOIN tot ORDER BY source""".stripMargin))

  /** T5-style span corruption — the denoising-objective formatter: for
    * every document, fixed 3-token spans on a 10-token stride are
    * masked; the INPUT keeps the unmasked text with each span replaced
    * by one sentinel token (`<X0>`, `<X1>`, …) and the TARGET is the
    * sentinel-delimited sequence of exactly the masked tokens — the
    * (input, target) pair a span-corruption pretraining batch is built
    * from. The whole transformation is position arithmetic inside
    * codegen'd array lambdas (transform → per-position token LISTS →
    * flatten, so a first-of-span position can emit sentinel+token into
    * the target while unmasked positions emit nothing) — one narrow
    * projection per document, embarrassingly parallel, replayed by the
    * oracle with DuckDB's identical 1-based list lambdas. The gate
    * checksums both sides and pins the token-count identity
    * |input| + |target| = |tokens| + 2·n_spans (each span contributes
    * its sentinel to BOTH sides). */
  val q246SpanCorruption = GraftQuery(
    "q246_span_corruption",
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("slice(split(trim(text), ' +'), 1, 60)").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 13)
      // position i (1-based): masked iff (i-1) % 10 < 3; span id (i-1)/10
      val out = t
        .withColumn("input_toks", expr(
          """flatten(transform(toks, (w, p) ->
            |  CASE WHEN p % 10 = 0 THEN array(concat('<X',
            |         CAST(CAST(p / 10 AS INT) AS STRING), '>'))
            |       WHEN p % 10 < 3 THEN array()
            |       ELSE array(w) END))""".stripMargin))
        .withColumn("target_toks", expr(
          """flatten(transform(toks, (w, p) ->
            |  CASE WHEN p % 10 = 0 THEN array(concat('<X',
            |         CAST(CAST(p / 10 AS INT) AS STRING), '>'), w)
            |       WHEN p % 10 < 3 THEN array(w)
            |       ELSE array() END))""".stripMargin))
      out.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        size(col("input_toks")).cast("long").as("n_input"),
        size(col("target_toks")).cast("long").as("n_target"),
        conv(substring(md5(array_join(col("input_toks"), " ")), 1, 8), 16, 10)
          .cast("long").as("input_sum"),
        conv(substring(md5(array_join(col("target_toks"), " ")), 1, 8), 16, 10)
          .cast("long").as("target_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    list_slice(regexp_split_to_array(trim(text), ' +'), 1, 60)
           |      AS toks
           |  FROM documents),
           |base AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 13),
           |-- DuckDB lambda index p is 1-based; Spark's is 0-based, so
           |-- the engine's `p % 10` is `(p-1) % 10` here
           |built AS (
           |  SELECT doc_id, n,
           |    flatten(list_transform(toks, (w, p) ->
           |      CASE WHEN (p-1) % 10 = 0 THEN ['<X' ||
           |             CAST((p-1) // 10 AS VARCHAR) || '>']
           |           WHEN (p-1) % 10 < 3 THEN []
           |           ELSE [w] END)) AS input_toks,
           |    flatten(list_transform(toks, (w, p) ->
           |      CASE WHEN (p-1) % 10 = 0 THEN ['<X' ||
           |             CAST((p-1) // 10 AS VARCHAR) || '>', w]
           |           WHEN (p-1) % 10 < 3 THEN [w]
           |           ELSE [] END)) AS target_toks
           |  FROM base)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           |  CAST(len(input_toks) AS BIGINT) AS n_input,
           |  CAST(len(target_toks) AS BIGINT) AS n_target,
           |  CAST(('0x' || substr(md5(array_to_string(input_toks, ' ')), 1, 8))
           |    ::BIGINT AS BIGINT) AS input_sum,
           |  CAST(('0x' || substr(md5(array_to_string(target_toks, ' ')), 1, 8))
           |    ::BIGINT AS BIGINT) AS target_sum
           |FROM built ORDER BY doc_id""".stripMargin))

  /** SFT EXAMPLE BUILDER — chat template + loss mask + packing, the
    * step that turns raw (prompt, response) pairs into supervised
    * fine-tuning batches: each document splits at a deterministic
    * prompt length, the templated sequence costs
    * `n + 3` tokens (user marker + prompt + assistant marker +
    * response + end-of-turn), and the LOSS MASK zeroes everything
    * through the assistant marker — only `n − prompt_len + 1`
    * positions (response + EOT) train. Examples then pack into
    * 2048-token bins via the two-phase
    * [[graft.operators.GlobalRank.exclusiveCumSum]] (q86's
    * construction — no single-partition window), and the gate
    * profiles each bin's total/loss token mass and mask ratio. All
    * arithmetic integer until the final rounded ratio. */
  val q262SftLossMask = GraftQuery(
    "q262_sft_loss_mask",
    (s, dir) => {
      val budget = 2048
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n"))
      val ex = docs
        .withColumn("prompt_len",
          least(lit(3) + col("doc_id") % 8, floor(col("n") / 2)).cast("long"))
        .withColumn("seq_len", col("n") + 3)
        .withColumn("loss_len", col("n") - col("prompt_len") + 1)
      graft.operators.GlobalRank
        .exclusiveCumSum(ex, "offset", col("seq_len"), col("doc_id"))
        .withColumn("bin_id", (col("offset") / budget).cast("long"))
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_examples"),
          sum("seq_len").as("bin_tokens"),
          sum("loss_len").as("bin_loss_tokens"),
          round(sum("loss_len").cast("double") /
            sum("seq_len").cast("double"), 9).as("loss_ratio"))
        .orderBy("bin_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
           |  FROM documents),
           |ex AS (
           |  SELECT doc_id, n,
           |    least(3 + doc_id % 8, n // 2) AS prompt_len,
           |    n + 3 AS seq_len, n - least(3 + doc_id % 8, n // 2) + 1 AS loss_len
           |  FROM t),
           |o AS (
           |  SELECT doc_id, seq_len, loss_len,
           |    COALESCE(sum(seq_len) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM ex)
           |SELECT CAST(off // 2048 AS BIGINT) AS bin_id, count(*) AS n_examples,
           |  CAST(sum(seq_len) AS BIGINT) AS bin_tokens,
           |  CAST(sum(loss_len) AS BIGINT) AS bin_loss_tokens,
           |  round(CAST(sum(loss_len) AS DOUBLE) / CAST(sum(seq_len) AS DOUBLE),
           |    9) AS loss_ratio
           |FROM o GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TOKEN-BUDGET MIXTURE ALLOCATION with epoch caps — given per-stratum
    * ((source, lang) cell) corpus sizes (ONE distributed aggregation; the rest is
    * roster-sized), temperature-upweighted target shares
    * (α = 0.5: weight ∝ √tokens, the multilingual-mixing convention),
    * a total budget of 1.8× the corpus, and a hard 2-epoch repetition
    * cap, compute each source's allocated tokens by capped
    * proportional WATERFILLING: 3 rounds of
    * `alloc ← min(cap, alloc + surplus·w/Σw_uncapped)`, every share
    * an integer token count (weights quantized to nanos before the
    * sums, so both engines round identically). Small sources hit the
    * cap and their surplus flows to large ones — the gate pins the
    * dynamics, not just the formula. */
  val q263TokenBudget = GraftQuery(
    "q263_token_budget",
    (s, dir) => {
      // half-away-from-zero, matching DuckDB round() on NEGATIVE
      // surplus shares too (math.round is floor(x+0.5) — differs at
      // exactly −.5)
      def roundL(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val perSource = Tables.documents(s, dir)
        .groupBy(concat_ws("/", col("source"), col("lang")).as("stratum"))
        .agg(sum(Text.tokenCount(col("text")).cast("long")).as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val totalT = perSource.map(_._2).sum
      val budget = 9L * totalT / 5L
      val capped = perSource.map { case (src, t) => (src, t, 2L * t) }
      val w9 = capped.map { case (_, t, _) => roundL(math.sqrt(t.toDouble) * 1e9) }
      val s9All = w9.sum
      var alloc = capped.zipWithIndex.map { case ((_, _, cap), i) =>
        math.min(cap,
          roundL(budget.toDouble * (w9(i).toDouble / s9All.toDouble)))
      }
      for (_ <- 1 to 3) {
        val surplus = budget - alloc.sum
        val uncapIdx = alloc.indices.filter(i => alloc(i) < capped(i)._3)
        val s9u = uncapIdx.map(w9).sum
        if (uncapIdx.nonEmpty && s9u > 0) {
          val next = alloc.clone()
          uncapIdx.foreach { i =>
            next(i) = math.min(capped(i)._3, alloc(i) +
              roundL(surplus.toDouble * (w9(i).toDouble / s9u.toDouble)))
          }
          alloc = next
        }
      }
      import s.implicits._
      capped.zipWithIndex.map { case ((src, t, cap), i) =>
        (src, t, cap, alloc(i),
          BigDecimal(alloc(i).toDouble / t.toDouble)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.toDF("stratum", "t_tokens", "cap_tokens", "alloc_tokens", "epochs")
        .orderBy("stratum")
    },
    Some("""WITH t AS MATERIALIZED (
           |  SELECT source || '/' || lang AS stratum,
           |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           |      AS t
           |  FROM documents GROUP BY 1),
           |g AS MATERIALIZED (
           |  SELECT CAST(9 * sum(t) // 5 AS BIGINT) AS b FROM t),
           |w AS MATERIALIZED (
           |  SELECT stratum, t, 2 * t AS cap,
           |    CAST(round(sqrt(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS w9
           |  FROM t),
           |a0 AS MATERIALIZED (
           |  SELECT stratum, t, cap, w9,
           |    least(cap, CAST(round(CAST((SELECT b FROM g) AS DOUBLE) *
           |      (CAST(w9 AS DOUBLE) / CAST((SELECT sum(w9) FROM w) AS DOUBLE)))
           |      AS BIGINT)) AS alloc
           |  FROM w),
           |a1 AS MATERIALIZED (
           |  SELECT stratum, t, cap, w9,
           |    CASE WHEN alloc < cap AND
           |        (SELECT sum(w9) FROM a0 WHERE alloc < cap) > 0
           |      THEN least(cap, alloc + CAST(round(
           |        CAST((SELECT b FROM g) - (SELECT sum(alloc) FROM a0)
           |          AS DOUBLE) * (CAST(w9 AS DOUBLE) /
           |        CAST((SELECT sum(w9) FROM a0 WHERE alloc < cap) AS DOUBLE)))
           |        AS BIGINT))
           |      ELSE alloc END AS alloc
           |  FROM a0),
           |a2 AS MATERIALIZED (
           |  SELECT stratum, t, cap, w9,
           |    CASE WHEN alloc < cap AND
           |        (SELECT sum(w9) FROM a1 WHERE alloc < cap) > 0
           |      THEN least(cap, alloc + CAST(round(
           |        CAST((SELECT b FROM g) - (SELECT sum(alloc) FROM a1)
           |          AS DOUBLE) * (CAST(w9 AS DOUBLE) /
           |        CAST((SELECT sum(w9) FROM a1 WHERE alloc < cap) AS DOUBLE)))
           |        AS BIGINT))
           |      ELSE alloc END AS alloc
           |  FROM a1),
           |a3 AS MATERIALIZED (
           |  SELECT stratum, t, cap, w9,
           |    CASE WHEN alloc < cap AND
           |        (SELECT sum(w9) FROM a2 WHERE alloc < cap) > 0
           |      THEN least(cap, alloc + CAST(round(
           |        CAST((SELECT b FROM g) - (SELECT sum(alloc) FROM a2)
           |          AS DOUBLE) * (CAST(w9 AS DOUBLE) /
           |        CAST((SELECT sum(w9) FROM a2 WHERE alloc < cap) AS DOUBLE)))
           |        AS BIGINT))
           |      ELSE alloc END AS alloc
           |  FROM a2)
           |SELECT stratum, t AS t_tokens, cap AS cap_tokens,
           |  alloc AS alloc_tokens,
           |  round(CAST(alloc AS DOUBLE) / CAST(t AS DOUBLE), 9) AS epochs
           |FROM a3 ORDER BY stratum""".stripMargin))

  /** q265's oracle: replay of the 3 full-batch GD iterations as CTE
    * chains (one g→w→z→sig→metrics block per step — the BpeLearn/
    * UnigramLm SQL-replay discipline), with the iteration-0 metrics in
    * closed form (z = 0 → sigma = 0.5 exactly → Brier term 0.25e9 nanos per
    * doc, predict-0 for every row). */
  private def q265OracleSql: String = {
    def step(i: Int): String = {
      val errSrc = if (i == 1)
        s"e0 AS (SELECT doc_id, 0.5 - y AS err FROM meta),"
      else ""
      val wExpr = if (i == 1)
        s"round(0 - 0.5 * (CAST(g$i.g9 AS DOUBLE) / 1e9) / " +
          s"CAST((SELECT nd FROM nd) AS DOUBLE), 9)"
      else
        s"round(w${i - 1}.w - 0.5 * (CAST(g$i.g9 AS DOUBLE) / 1e9) / " +
          s"CAST((SELECT nd FROM nd) AS DOUBLE), 9)"
      val wFrom = if (i == 1) s"g$i" else s"w${i - 1} JOIN g$i USING (b)"
      s"""$errSrc
         |g$i AS MATERIALIZED (
         |  SELECT f.b, CAST(sum(CAST(round(1e9 * e.err * f.cnt / m.n)
         |    AS BIGINT)) AS BIGINT) AS g9
         |  FROM f JOIN meta m USING (doc_id) JOIN e${i - 1} e USING (doc_id)
         |  GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT b, $wExpr AS w FROM $wFrom),
         |z$i AS MATERIALIZED (
         |  SELECT f.doc_id,
         |    CAST(sum(CAST(round(1e9 * w$i.w * f.cnt / m.n) AS BIGINT))
         |      AS BIGINT) AS z9,
         |    max(m.y) AS y
         |  FROM f JOIN meta m USING (doc_id) JOIN w$i USING (b)
         |  GROUP BY 1),
         |s$i AS MATERIALIZED (
         |  SELECT doc_id, y, z9,
         |    0.5 * (1 + (CAST(z9 AS DOUBLE) / 1e9) /
         |      (1 + abs(CAST(z9 AS DOUBLE) / 1e9))) AS sig
         |  FROM z$i),
         |e$i AS MATERIALIZED (SELECT doc_id, sig - y AS err FROM s$i),
         |met$i AS (
         |  SELECT CAST($i AS BIGINT) AS iter,
         |    CAST(sum(CAST(round(1e9 * (sig - y) * (sig - y)) AS BIGINT))
         |      AS BIGINT) AS loss9,
         |    CAST(sum(CASE WHEN (z9 > 0) = (y = 1) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM s$i)""".stripMargin
    }
    s"""WITH meta AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
       |    CASE WHEN list_contains(string_split_regex(trim(text), '\\s+'),
       |      'spark') THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    CAST(('0x' || substr(md5(t.tok), 1, 4))::BIGINT % 8 AS BIGINT)
       |      AS b,
       |    count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+'))
       |          AS tok FROM documents) t
       |  GROUP BY 1, 2),
       |nd AS (SELECT count(*) AS nd FROM meta),
       |met0 AS (
       |  SELECT CAST(0 AS BIGINT) AS iter,
       |    CAST(250000000 * (SELECT nd FROM nd) AS BIGINT) AS loss9,
       |    (SELECT CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |     FROM meta) AS n_correct),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT iter, loss9, n_correct,
       |  (SELECT nd FROM nd) AS n_docs
       |FROM (SELECT * FROM met0 UNION ALL SELECT * FROM met1
       |      UNION ALL SELECT * FROM met2 UNION ALL SELECT * FROM met3)
       |ORDER BY iter""".stripMargin
  }

  /** IN-ENGINE LINEAR CLASSIFIER TRAINING — the content-filter model
    * a curation pipeline trains on its own corpus (here: does the
    * document mention the product term): 8 hashed bag-of-words
    * features (q93's bucket convention, length-normalized), a rational
    * squashing sigma(z) = 0.5*(1 + z/(1+|z|)) — sigmoid-shaped but exactly
    * computable, no cross-engine exp() ulp drift — and 3 full-batch
    * gradient steps from w = 0. The gate emits the TRAINING CURVE:
    * per-iteration Brier loss in integer nanos and exact-margin
    * accuracy — monotone loss descent is the training-works invariant
    * (pinned by Round9Spec) and is exactly replayable, unlike an
    * accuracy claim on features this collided.
    *
    * Scale shape: each step is ONE distributed aggregation — margins
    * come from an equi-join against the broadcast 8-weight map,
    * per-(doc,bucket) gradient contributions quantize to integer
    * nanos BEFORE the bucket sums (order-free), and only the 8-row
    * gradient ever reaches the driver (the KMeans/BpeLearn pattern).
    * Weights round to 9 decimals each step, so the oracle's replay of
    * all three iterations is bit-exact. */
  val q265ClassifierTrain = GraftQuery(
    "q265_classifier_train",
    (s, dir) => {
      def round9(x: Double): Double =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val docs = Tables.documents(s, dir)
      val meta = docs.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n"),
        array_contains(Text.tokens(col("text")), "spark").cast("long").as("y"))
      val feats = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .withColumn("b",
          conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 8)
        .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
        .join(meta, "doc_id")
        .cache()
      val nDocs = meta.count()
      def wCol(w: Array[Double]) = map_from_arrays(
        typedLit((0 until 8).map(_.toLong)), typedLit(w.toSeq))
      def margins(w: Array[Double]) = feats
        .withColumn("c9",
          round(lit(1e9) * element_at(wCol(w), col("b")) * col("cnt") /
            col("n"), 0).cast("long"))
        .groupBy("doc_id").agg(sum("c9").as("z9"),
          max("y").as("y"), max("n").as("n"))
      def withSig(m: org.apache.spark.sql.DataFrame) = m
        .withColumn("z", col("z9").cast("double") / 1e9)
        .withColumn("sig",
          lit(0.5) * (lit(1.0) + col("z") / (lit(1.0) + abs(col("z")))))
      // (loss9, n_correct) under the current weights: Brier loss in
      // integer nanos (order-free sum) + the exact-margin accuracy
      // (z9 > 0 is an INTEGER compare — no float threshold)
      def metrics(w: Array[Double]): (Long, Long) = {
        val r = withSig(margins(w))
          .agg(
            sum(round(lit(1e9) * (col("sig") - col("y")) *
              (col("sig") - col("y")), 0).cast("long")).as("loss9"),
            sum(((col("z9") > 0).cast("long") === col("y")).cast("long"))
              .as("n_correct"))
          .collect().head
        (r.getLong(0), r.getLong(1))
      }
      var w = Array.fill(8)(0.0)
      val curve = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
      val m0 = metrics(w)
      curve += ((0L, m0._1, m0._2))
      for (it <- 1 to 3) {
        val err = withSig(margins(w))
          .withColumn("err", col("sig") - col("y"))
        val g9 = feats.join(err.select(col("doc_id"), col("err")), "doc_id")
          .withColumn("g9",
            round(lit(1e9) * col("err") * col("cnt") / col("n"), 0)
              .cast("long"))
          .groupBy("b").agg(sum("g9").as("g9"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        w = Array.tabulate(8)(b =>
          round9(w(b) - 0.5 * (g9.getOrElse(b.toLong, 0L).toDouble / 1e9) /
            nDocs.toDouble))
        val m = metrics(w)
        curve += ((it.toLong, m._1, m._2))
      }
      import s.implicits._
      curve.toSeq.toDF("iter", "loss9", "n_correct")
        .withColumn("n_docs", lit(nDocs))
        .orderBy("iter")
    },
    Some(q265OracleSql))

  /** FIM (fill-in-the-middle) transform — the code-training objective
    * formatter (Bavarian et al. 2022): each document splits into
    * (prefix, middle, suffix) at DETERMINISTIC cut points (two md5
    * words of the doc id — the engine's no-RNG discipline; training
    * runs re-derive identical spans, and the DuckDB oracle replays
    * them byte-for-byte) and re-assembles in PSM or SPM order with
    * sentinel tokens, 50/50 by id parity — the joint distribution the
    * paper trains on. A pure map-only projection: one codegen'd pass,
    * no shuffle, scales trivially. Gate pins per-mode counts, exact
    * character conservation (output = input + 15 sentinel chars), and
    * a content checksum over every transformed document. */
  val q297FimTransform = GraftQuery(
    "q297_fim_transform",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .filter(length(col("text")) >= 3)
      val h1 = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val h2 = conv(substring(md5(col("id").cast("string")), 9, 8), 16, 10)
        .cast("long")
      val len = length(col("text")).cast("long")
      val a = (lit(1L) + pmod(h1, len - 1)).cast("int")
      val b = (a + pmod(h2, len - a + 1)).cast("int")
      val prefix = substring(col("text"), lit(1), a)
      val middle = col("text").substr(a + 1, b - a)
      val suffix = col("text").substr(b + 1, len.cast("int") - b)
      val fim = when(col("id") % 2 === 0,
        concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
          lit("<MID>"), middle))
        .otherwise(concat(lit("<PRE>"), lit("<SUF>"), suffix,
          lit("<MID>"), prefix, middle))
      docs.select(col("id"), len.as("len"), fim.as("fim"))
        .groupBy(when(col("id") % 2 === 0, "psm").otherwise("spm")
          .as("mode"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(length(col("fim")).cast("long") === col("len") + 15L,
            0L).otherwise(1L)).as("n_length_violations"),
          sum(conv(substring(md5(col("fim")), 1, 8), 16, 10)
            .cast("long")).as("fim_checksum"))
        .orderBy("mode")
    },
    Some("""WITH d AS (
           |  SELECT CAST(doc_id AS BIGINT) AS id, text,
           |    CAST(length(text) AS BIGINT) AS len,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           |      AS h1,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
           |      AS h2
           |  FROM documents WHERE length(text) >= 3),
           |cut AS (
           |  SELECT id, text, len,
           |    CAST(1 + (h1 % (len - 1)) AS BIGINT) AS a,
           |    CAST(1 + (h1 % (len - 1))
           |      + (h2 % (len - (1 + (h1 % (len - 1))) + 1)) AS BIGINT) AS b
           |  FROM d),
           |fimmed AS (
           |  SELECT id, len,
           |    CASE WHEN id % 2 = 0 THEN
           |      '<PRE>' || substr(text, 1, a) || '<SUF>'
           |        || substr(text, b + 1) || '<MID>'
           |        || substr(text, a + 1, b - a)
           |    ELSE
           |      '<PRE>' || '<SUF>' || substr(text, b + 1) || '<MID>'
           |        || substr(text, 1, a) || substr(text, a + 1, b - a)
           |    END AS fim
           |  FROM cut)
           |SELECT CASE WHEN id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
           |  count(*) AS n_docs,
           |  CAST(sum(CASE WHEN length(fim) = len + 15 THEN 0 ELSE 1 END)
           |    AS BIGINT) AS n_length_violations,
           |  CAST(sum(('0x' || substr(md5(fim), 1, 8))::BIGINT) AS BIGINT)
           |    AS fim_checksum
           |FROM fimmed GROUP BY 1 ORDER BY 1""".stripMargin))

  val all: Seq[GraftQuery] = Seq(q50TrainTestSplit, q51VocabTopK, q52Tfidf,
    q53Contamination, q70PretrainPipeline, q86SequencePacking, q87MixtureSample,
    q92QuantileBinning, q93FeatureHash, q100StratifiedSample, q106WeightedSample,
    q110DecontaminatedSplit, q169Bm25Retrieval, q182CorpusShards,
    q191VocabTopP, q192SkewDiagnostic, q198OovRate, q205GroupQuantiles,
    q209TemperatureMixture, q246SpanCorruption, q262SftLossMask,
    q263TokenBudget, q265ClassifierTrain, q268ReproducibleShuffle,
    q297FimTransform)

  /** REPRODUCIBLE GLOBAL SHUFFLE — the training-data ordering step:
    * every epoch must visit the corpus in a "random" order that is (a)
    * identical across reruns/partitionings and (b) well-mixed across
    * sources, WITHOUT a `rand()` (nondeterministic under retry) or a
    * driver-side permutation. The order key is a seeded md5 draw per
    * doc (a pure row function), the global position comes from the
    * two-phase [[graft.operators.GlobalRank.rowNumber]] (no
    * single-partition sort), and docs deal round-robin into 16 shards.
    * The gate emits per-shard mixing diagnostics plus
    * `Σ doc_id·position` — a checksum that pins the EXACT permutation,
    * not just shard sizes. Round9Spec pins the mixing property itself
    * (every shard sees every source). */
  lazy val q268ReproducibleShuffle: GraftQuery = GraftQuery(
    "q268_reproducible_shuffle",
    (s, dir) => {
      val keyed = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("lang"),
        conv(substring(md5(concat_ws("|", col("doc_id"), lit("shuf42"))),
          1, 8), 16, 10).cast("long").as("k"))
      val pos = graft.operators.GlobalRank
        .rowNumber(keyed, "pos", col("k"), col("doc_id"))
        .withColumn("shard", (col("pos") - 1) % 16)
      val perSource = pos.groupBy("shard", "source")
        .agg(count(lit(1)).as("c"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_sources"), max("c").as("max_source_cnt"))
      pos.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum(col("doc_id") * col("pos")).as("perm_checksum"))
        .join(perSource, "shard")
        .select(col("shard"), col("n_docs"), col("n_sources"),
          col("n_langs"), col("max_source_cnt"), col("perm_checksum"))
        .orderBy("shard")
    },
    Some("""WITH keyed AS (
           |  SELECT doc_id, source, lang,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shuf42'),
           |      1, 8))::BIGINT AS k
           |  FROM documents),
           |pos AS MATERIALIZED (
           |  SELECT doc_id, source, lang,
           |    row_number() OVER (ORDER BY k, doc_id) AS pos
           |  FROM keyed),
           |sh AS MATERIALIZED (
           |  SELECT doc_id, source, lang, pos, (pos - 1) % 16 AS shard
           |  FROM pos),
           |bysrc AS MATERIALIZED (
           |  SELECT shard, source, count(*) AS n FROM sh GROUP BY 1, 2),
           |ps AS (
           |  SELECT shard, count(*) AS n_sources, max(n) AS mx
           |  FROM bysrc GROUP BY 1),
           |main AS (
           |  SELECT shard, count(*) AS n_docs,
           |    count(DISTINCT lang) AS n_langs,
           |    CAST(sum(doc_id * pos) AS BIGINT) AS perm_checksum
           |  FROM sh GROUP BY 1)
           |SELECT CAST(m.shard AS BIGINT) AS shard,
           |  CAST(m.n_docs AS BIGINT) AS n_docs,
           |  CAST(p.n_sources AS BIGINT) AS n_sources,
           |  CAST(m.n_langs AS BIGINT) AS n_langs,
           |  CAST(p.mx AS BIGINT) AS max_source_cnt,
           |  m.perm_checksum
           |FROM main m JOIN ps p ON p.shard = m.shard
           |ORDER BY shard""".stripMargin))
}
