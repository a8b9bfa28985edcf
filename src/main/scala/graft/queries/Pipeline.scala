package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.operators.{Curation, Dedup, EventOps, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators over the `documents` / `embeddings` / `events`
  * tables: dedup (d*), similarity search (s*), text analysis (t*), multimodal (mm*),
  * event analytics (e*). Where the semantics are portable SQL, a DuckDB oracle
  * replicates the exact arithmetic; approximate/scale-path variants (LSH ANN) get
  * rows-only checks.
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Bridge.readParquet(s, s"$dir/documents.parquet")

  /** Collect a SMALL harness result into a local DataFrame and delete the temp
    * tree it was read from. The streaming harnesses (w2, mm8) write manifests /
    * outputs under a fresh temp dir per invocation; returning a lazy reader over
    * that dir forces the dir to outlive the DataFrame, and Bench's 4 runs per
    * query leaked 8+ parquet+checkpoint trees per round. The results are bounded
    * by the harness's doc_id cap (≤600 rows), so materializing is the harness
    * collecting its own test output — not an operator-scale collect.
    */
  private def materializeAndClean(s: SparkSession, df: DataFrame, tmp: String): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(df.collect(): _*)
    val out = s.createDataFrame(rows, df.schema)
    graft.util.Fs.deleteTree(tmp)
    out
  }
  private def embs(s: SparkSession, dir: String): DataFrame =
    Bridge.readParquet(s, s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is only consulted when the fixture carries NANOS columns (the
    // legacy shape); set it best-effort so that shape loads in foreign sessions,
    // then normalize whatever representation arrived to the ns-long contract.
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") catch { case _: Exception => }
    Relational.normalizeEventTs(s.read.parquet(s"$dir/events.parquet"))
  }

  // ---- shared oracle fragments (DuckDB dialect) ----

  /** DuckDB replica of Dedup.shingles: distinct word n-grams of normalized text. */
  private val duckShingleSets =
    """WITH w AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
      |    x -> len(x) > 0) AS words
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words) - 1, 1)),
      |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      |  FROM w WHERE len(words) >= 3
      |)""".stripMargin

  /** [[duckShingleSets]] generalized to word n-grams of any width (decontamination
    * uses the 13-gram rule).
    */
  private def duckShingleSetsN(n: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\\s+'),
       |    x -> len(x) > 0) AS words
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words) - ${n - 2}, 1)),
       |    i -> array_to_string(list_slice(words, i, i + ${n - 1}), ' '))) AS s
       |  FROM w WHERE len(words) >= $n
       |)""".stripMargin

  /** DuckDB replay of the greedy BPE encode under [[graft.functions.Bpe]]'s
    * pretrained merge table: each word is a '|'-delimited symbol string, each
    * recursion step applies the lowest-ranked applicable merge at its leftmost
    * occurrence, and terminal states are rows no merge applies to. String-level
    * replace is symbol-safe because '|' never occurs inside a symbol, so every
    * pattern match aligns with symbol bounds. Yields CTEs `mg` (the merge table)
    * and `enc` (all encode states; terminal = no applicable merge).
    */
  private val duckBpeEncode: String = {
    val mergeRows = graft.functions.Bpe.pretrainedMerges.zipWithIndex
      .map { case ((a, b), i) => s"($i, '|$a|$b|', '|$a$b|')" }
      .mkString(",\n|    ")
    s"""WITH RECURSIVE mg(rk, pat, rep) AS (
       |  VALUES $mergeRows
       |), w AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\\s+'),
       |    x -> len(x) > 0) AS words
       |  FROM documents
       |), wx AS (
       |  SELECT doc_id, unnest(generate_series(1, len(words))) AS i, words FROM w
       |), init AS (
       |  SELECT doc_id, i,
       |    '|' || regexp_replace(words[i], '(.)', '\\1|', 'g') AS s
       |  FROM wx
       |), enc(doc_id, i, s) AS (
       |  SELECT doc_id, i, s FROM init
       |  UNION ALL
       |  SELECT doc_id, i, substr(s, 1, p - 1) || rep || substr(s, p + length(pat))
       |  FROM (
       |    SELECT e.doc_id, e.i, e.s, m.pat, m.rep, strpos(e.s, m.pat) AS p
       |    FROM enc e JOIN mg m
       |      ON m.rk = (SELECT min(m2.rk) FROM mg m2 WHERE strpos(e.s, m2.pat) > 0))
       |)""".stripMargin
  }

  private def duckJaccardPairs(threshold: Double) =
    s"""$duckShingleSets
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
       |FROM g a, g b
       |WHERE a.doc_id < b.doc_id
       |  AND round(len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(list_concat(a.s, b.s))), 6) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replica of Dedup.simHashNearDup with the portable md5-derived hash:
    * per-shingle 60-bit hash → per-bit sign sums → signature → 4-chunk banding →
    * hamming verify. Generated column-per-bit SQL (oracle-scale only).
    */
  private def duckSimHash(bits: Int, maxHamming: Int): String = {
    val cw = bits / 4
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b_$i").mkString(", ")
    val sigExpr = (0 until bits).map(i =>
      s"(CASE WHEN b_$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)").mkString(" | ")
    val banded = (0 until 4).map(i =>
      s"SELECT id, simhash, $i AS c, (simhash >> ${i * cw}) & ${(1L << cw) - 1} AS v FROM sig")
      .mkString(" UNION ALL ")
    s"""$duckShingleSets, sh AS (
       |  SELECT doc_id AS id, ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS h FROM g
       |), sums AS (
       |  SELECT id, $bitSums FROM sh GROUP BY id
       |), sig AS (
       |  SELECT id, $sigExpr AS simhash FROM sums
       |), banded AS ($banded)
       |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |  cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
       |FROM banded a JOIN banded b ON a.c = b.c AND a.v = b.v AND a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replica of Similarity.lshSignature: per-plane sign bits of the unrolled
    * sequential dot product — term order and double arithmetic match Spark's
    * `aggregate(zip_with(...))` fold exactly (left-to-right, elements cast to double),
    * so the signatures are bit-identical across engines.
    */
  private def duckLshSignature(vecExpr: String, dim: Int, planes: Int): String =
    (0 until planes).map { p =>
      val dot = (0 until dim).map { j =>
        s"($vecExpr[${j + 1}]::DOUBLE * ${Similarity.planeComponent(p, j)})"
      }.mkString(" + ")
      s"(CASE WHEN $dot >= 0 THEN (1::BIGINT << $p) ELSE 0::BIGINT END)"
    }.mkString(" | ")

  /** Left-associated double dot-product chain between two DuckDB array expressions
    * over `dsub` components starting at `off` — the arithmetic twin of the native
    * loop kernels (PqEncode/PqTable/DotProduct accumulate left-to-right in doubles).
    */
  private def duckChainDot(a: String, b: String, off: Int, dsub: Int): String =
    (0 until dsub).map(j =>
      s"($a[${off + j + 1}]::DOUBLE * $b[${off + j + 1}]::DOUBLE)").mkString(" + ")

  /** Chain dot of `a` against `b` normalized by `scale` — the oracle replica of
    * Spark's dot-against-driver-normalized-centroids (each component divided FIRST,
    * then the left-associated accumulation), so near-tie cell assignment rounds
    * identically in both engines.
    */
  private def duckChainDotScaled(a: String, b: String, scale: String, dim: Int): String =
    (0 until dim).map(j =>
      s"($a[${j + 1}]::DOUBLE * ($b[${j + 1}]::DOUBLE / $scale))").mkString(" + ")

  /** DuckDB replica of TextAnalysis.fingerprint. */
  private val duckFp = "md5(regexp_replace(lower(text), '[^a-z0-9一-鿿]', '', 'g'))"

  /** DuckDB replica of Dedup.wordsArray (normalized word list of `text`). */
  private val duckWords =
    """list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'), x -> len(x) > 0)"""

  /** DuckDB replica of TextAnalysis.tokenCount. */
  private val duckTok =
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

  /** Language-ID stopword lists — single source of truth shared by the Spark operator
    * (TextAnalysis.langId / the native StopwordLangId expression) and this oracle.
    */
  private val langKw = graft.functions.StopwordLangId.keywords

  private def duckLangId: String = {
    val scores = langKw.map { case (lang, kws) =>
      val terms = kws.map(k =>
        s"cast((length(t) - length(replace(t, ' $k ', ''))) / ${k.length + 2} as int)")
      s"${terms.mkString(" + ")} AS s_$lang"
    }.mkString(",\n    ")
    s"""WITH base AS (
       |  SELECT doc_id, text, ' ' || lower(text) || ' ' AS t FROM documents
       |), sc AS (
       |  SELECT doc_id, text,
       |    $scores
       |  FROM base
       |)
       |SELECT doc_id,
       |  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |       WHEN s_es > 0 THEN 'es'
       |       ELSE 'unknown' END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  private def duckQuality: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    cast(length(text) as double) AS n,
       |    cast(length(regexp_replace(text, '[^A-Za-z一-鿿]', '', 'g')) as double) AS alpha,
       |    cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) as double) AS punct,
       |    cast($duckTok as double) AS words
       |  FROM documents
       |)
       |SELECT doc_id, round(
       |  (CASE WHEN n >= 200 AND n <= 8000 THEN 1.0 WHEN n < 200 THEN n / 200.0 ELSE 8000.0 / n END) * 0.4
       |  + (CASE WHEN n = 0 THEN 0.0 ELSE alpha / n END) * 0.3
       |  + (1.0 - (CASE WHEN n = 0 THEN 0.0 ELSE least(punct / n * 10.0, 1.0) END)) * 0.1
       |  + (CASE WHEN words = 0 THEN 0.0
       |          WHEN n / words >= 3.0 AND n / words <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2
       |, 6) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  // wordScore: Spark's when(words === 0, 0.0) is implicit (otherwise(0.5) branch
  // can't hit words=0 because meanWord is null-guarded); mirror exactly above.

  /** DuckDB replay of the IVF-PQ pipeline (md5-seeded centroids, cell
    * argmax, per-subspace code argmax, ADC shortlist, exact rerank) --
    * shared by s5_ann_ivfpq (one-shot) and s6_ann_ivfpq_index (persisted
    * index), which are required to produce identical results.
    */
  private lazy val ivfPqDuckOracle: Option[String] = {
      val (m, ksub, dsub) = (8, 16, 8)
      val codeCtes = (0 until m).map { sx =>
        val off = sx * dsub
        s"""code_$sx AS (
           |  SELECT vec_id, scid AS c$sx FROM (
           |    SELECT e.vec_id, c.scid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        (${duckChainDot("e.embedding", "c.embedding", off, dsub)})
           |        - (${duckChainDot("c.embedding", "c.embedding", off, dsub)}) / 2 DESC,
           |        c.scid DESC) AS rn
           |    FROM embeddings e, cent c) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      val codesJoin = (1 until m).map(sx => s"JOIN code_$sx USING (vec_id)").mkString(" ")
      val centJoins = (0 until m).map(sx => s"JOIN cent x$sx ON x$sx.scid = cd.c$sx").mkString(" ")
      val adc = (0 until m).map(sx =>
        s"(${duckChainDot("p.qv", s"x$sx.embedding", sx * dsub, dsub)})").mkString(" + ")
      Some(s"""WITH cent AS (
              |  SELECT embedding,
              |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS scid
              |  FROM (SELECT vec_id, embedding FROM embeddings
              |        ORDER BY md5(cast(vec_id as varchar)) LIMIT $ksub)
              |),
              |coarse AS (
              |  SELECT embedding AS centroid,
              |    sqrt(${duckChainDot("embedding", "embedding", 0, 64)}) AS nrm,
              |    scid AS cid
              |  FROM cent
              |),
              |cells AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT e.vec_id, c.cid,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY (${duckChainDotScaled("e.embedding", "c.centroid", "c.nrm", 64)})
              |          DESC, c.cid DESC) AS crk
              |    FROM embeddings e, coarse c) WHERE crk = 1
              |),
              |$codeCtes,
              |codes AS (SELECT * FROM code_0 $codesJoin),
              |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              |      WHERE vec_id % 50 = 0),
              |probes AS (
              |  SELECT query_id, qv, cid FROM (
              |    SELECT q.query_id, q.qv, c.cid,
              |      row_number() OVER (PARTITION BY q.query_id
              |        ORDER BY (${duckChainDotScaled("q.qv", "c.centroid", "c.nrm", 64)})
              |          DESC, c.cid DESC) AS prk
              |    FROM q, coarse c) WHERE prk <= 4
              |),
              |shortlist AS (
              |  SELECT query_id, qv, neighbor_id FROM (
              |    SELECT p.query_id, p.qv, cd.vec_id AS neighbor_id,
              |      row_number() OVER (PARTITION BY p.query_id
              |        ORDER BY ($adc) DESC, cd.vec_id) AS ark
              |    FROM probes p
              |    JOIN cells cl ON cl.cid = p.cid
              |    JOIN codes cd ON cd.vec_id = cl.vec_id
              |    $centJoins
              |    WHERE cd.vec_id != p.query_id
              |  ) WHERE ark <= 20
              |)
              |SELECT query_id, neighbor_id, cast(rk as int) AS rk FROM (
              |  SELECT sl.query_id, sl.neighbor_id,
              |    row_number() OVER (PARTITION BY sl.query_id
              |      ORDER BY list_cosine_similarity(sl.qv, e.embedding) DESC,
              |        sl.neighbor_id) AS rk
              |  FROM shortlist sl JOIN embeddings e ON e.vec_id = sl.neighbor_id
              |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)
  }

  val defs: Seq[(String, ((SparkSession, String) => DataFrame, Option[String]))] = Seq(

    // ---------------- dedup ----------------

    "d1_dedup_exact" -> (((s: SparkSession, dir: String) =>
      Dedup.exact(docs(s, dir), "text", "doc_id")
        .select(col("doc_id")).orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM (
              |  SELECT doc_id, row_number() OVER (PARTITION BY $duckFp ORDER BY doc_id) AS rn
              |  FROM documents
              |) WHERE rn = 1 ORDER BY doc_id""".stripMargin))),

    "d2_dedup_minhash" -> (((s: SparkSession, dir: String) =>
      Dedup.minHashNearDup(docs(s, dir), "text", "doc_id", n = 3, k = 32, bands = 16,
        threshold = 0.7).orderBy("id_a", "id_b"),
      Some(duckJaccardPairs(0.7)))),

    // md5-derived 60-bit signature (md5Hash60) so the whole simhash pipeline —
    // bit votes, banding, hamming verify — is replicated in the oracle engine.
    "d3_dedup_simhash" -> (((s: SparkSession, dir: String) =>
      Dedup.simHashNearDupNative(docs(s, dir), "text", "doc_id", maxHamming = 3,
        bits = 60)
        .orderBy("id_a", "id_b"),
      Some(duckSimHash(bits = 60, maxHamming = 3)))),

    "d4_ngram_jaccard" -> (((s: SparkSession, dir: String) =>
      Dedup.ngramJaccardNearDup(docs(s, dir), "text", "doc_id", n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(duckJaccardPairs(0.5)))),

    // Exact all-pairs baseline, deliberately bounded to a fixture-sized slice
    // (vec_id < 1000): O(n²) scoring is the oracle of record for the LSH scale path
    // (d6), not the blessed way to near-dup a 100 TB corpus. Threshold chosen so no
    // pair sits within 1e-4 of it (DuckDB scores in float32, Spark in double — the
    // pair SET is stable, per-pair scores are not).
    "d5_embed_neardup" -> (((s: SparkSession, dir: String) =>
      Similarity.cosinePairsExact(embs(s, dir).filter(col("vec_id") < 1000),
        threshold = 0.45)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM embeddings a, embeddings b
             |WHERE a.vec_id < 1000 AND b.vec_id < 1000 AND a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin))),

    // The scale path over the FULL corpus: LSH-bucketed blocking + exact verification.
    // The natural corpus has no pairs above ~0.52 cosine, so near-duplicates are
    // planted deterministically in-query (every 20th vector duplicated under id
    // +100000) — identical vectors hash to identical buckets, so the pair set is
    // structurally guaranteed and the O(n²) oracle below verifies it exactly.
    "d6_embed_neardup_lsh" -> (((s: SparkSession, dir: String) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000).alias("vec_id"), col("embedding"))
      Similarity.cosineNearDup(base.union(planted), threshold = 0.9, dim = 64, planes = 8)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
      Some("""WITH c AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
             |)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM c a, c b
             |WHERE a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin))),

    // ---------------- similarity search ----------------

    "s1_ann_brute" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      Similarity.bruteForceTopK(all.filter(col("vec_id") % 50 === 0), all, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
        .orderBy("query_id", "rk")
    },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0)
             |SELECT query_id, vec_id AS neighbor_id,
             |  cast(row_number() OVER (PARTITION BY query_id
             |    ORDER BY list_cosine_similarity(qv, embedding) DESC, vec_id) as int) AS rk
             |FROM q, embeddings
             |WHERE vec_id != query_id
             |QUALIFY rk <= 5
             |ORDER BY query_id, rk""".stripMargin))),

    // Full oracle: the deterministic splitmix hyperplanes are embedded in the oracle
    // SQL (duckLshSignature), so the approximate result — buckets, probes, ranking —
    // is replicated bit-for-bit, not just rows-counted.
    "s2_ann_lsh" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      Similarity.lshTopK(all.filter(col("vec_id") % 50 === 0), all, k = 5, dim = 64,
        planes = 12)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
        .orderBy("query_id", "rk")
    }, {
      val masks = (0L +: (0 until 12).map(p => 1L << p)).mkString("[", ", ", "]")
      Some(s"""WITH sigs AS (
              |  SELECT vec_id, embedding, ${duckLshSignature("embedding", 64, 12)} AS sig
              |  FROM embeddings
              |), q AS (
              |  SELECT vec_id AS query_id, embedding AS qv, sig AS qsig FROM sigs WHERE vec_id % 50 = 0
              |), probes AS (
              |  SELECT query_id, qv, xor(qsig, unnest($masks::BIGINT[])) AS bucket FROM q
              |), cand AS (
              |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, p.qv, c.embedding AS cv
              |  FROM probes p JOIN sigs c ON c.sig = p.bucket
              |  WHERE c.vec_id != p.query_id
              |)
              |SELECT query_id, neighbor_id,
              |  cast(row_number() OVER (PARTITION BY query_id
              |    ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id) as int) AS rk
              |FROM cand
              |QUALIFY rk <= 5
              |ORDER BY query_id, rk""".stripMargin)
    })),

    // Full oracle: centroid seeds are an md5-keyed corpus sample (reproducible in any
    // engine), lloydIters=0 keeps the centroids as exact corpus vectors, and the
    // oracle rebuilds cells/probes relationally. The Lloyd-refined variant is
    // recall-tested in OperatorsSpec.
    "s3_ann_ivf" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      Similarity.ivfTopK(all.filter(col("vec_id") % 50 === 0), all, k = 5, dim = 64,
        nlist = 16, nprobe = 4, lloydIters = 0)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
        .orderBy("query_id", "rk")
    },
      Some("""WITH cent AS (
             |  SELECT embedding AS centroid,
             |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS cid
             |  FROM (SELECT vec_id, embedding FROM embeddings
             |        ORDER BY md5(cast(vec_id as varchar)) LIMIT 16)
             |), cells AS (
             |  SELECT neighbor_id, cv, cid FROM (
             |    SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cid DESC) AS crk
             |    FROM embeddings e, cent c) WHERE crk = 1
             |), q AS (
             |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
             |), probes AS (
             |  SELECT query_id, qv, cid FROM (
             |    SELECT q.query_id, q.qv, c.cid,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY list_cosine_similarity(q.qv, c.centroid) DESC, c.cid DESC) AS prk
             |    FROM q, cent c) WHERE prk <= 4
             |)
             |SELECT p.query_id, s.neighbor_id,
             |  cast(row_number() OVER (PARTITION BY p.query_id
             |    ORDER BY list_cosine_similarity(p.qv, s.cv) DESC, s.neighbor_id) as int) AS rk
             |FROM probes p JOIN cells s USING (cid)
             |WHERE s.neighbor_id != p.query_id
             |QUALIFY rk <= 5
             |ORDER BY query_id, rk""".stripMargin))),

    // Product quantization with ADC scoring — the vector-compression scale path
    // (64 floats → 8 one-byte codes per corpus vector). lloydIters=0 keeps the
    // sub-codebooks as subvectors of the md5-sampled corpus rows, and assignment is
    // written as dot − ‖c‖²/2 (plain double chains), so the oracle rebuilds codes,
    // lookup tables, and the full ADC ranking with bit-identical arithmetic.
    "s4_ann_pq" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      Similarity.pqTopK(all.filter(col("vec_id") % 50 === 0), all, k = 5, dim = 64,
        m = 8, ksub = 16, lloydIters = 0)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
        .orderBy("query_id", "rk")
    }, {
      val (m, ksub, dsub) = (8, 16, 8)
      def chainDot(a: String, b: String, off: Int): String = duckChainDot(a, b, off, dsub)
      val codeCtes = (0 until m).map { sx =>
        val off = sx * dsub
        s"""code_$sx AS (
           |  SELECT vec_id, scid AS c$sx FROM (
           |    SELECT e.vec_id, c.scid,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |        (${chainDot("e.embedding", "c.embedding", off)})
           |        - (${chainDot("c.embedding", "c.embedding", off)}) / 2 DESC,
           |        c.scid DESC) AS rn
           |    FROM embeddings e, cent c) WHERE rn = 1
           |)""".stripMargin
      }.mkString(",\n")
      val codesJoin = (1 until m).map(sx => s"JOIN code_$sx USING (vec_id)").mkString(" ")
      val centJoins = (0 until m).map(sx => s"JOIN cent x$sx ON x$sx.scid = cd.c$sx").mkString(" ")
      val adc = (0 until m).map(sx =>
        s"(${chainDot("q.qv", s"x$sx.embedding", sx * dsub)})").mkString(" + ")
      Some(s"""WITH cent AS (
              |  SELECT embedding,
              |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS scid
              |  FROM (SELECT vec_id, embedding FROM embeddings
              |        ORDER BY md5(cast(vec_id as varchar)) LIMIT $ksub)
              |),
              |$codeCtes,
              |codes AS (SELECT * FROM code_0 $codesJoin),
              |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              |      WHERE vec_id % 50 = 0)
              |SELECT query_id, neighbor_id, cast(rk as int) AS rk FROM (
              |  SELECT q.query_id, cd.vec_id AS neighbor_id,
              |    row_number() OVER (PARTITION BY q.query_id
              |      ORDER BY ($adc) DESC, cd.vec_id) AS rk
              |  FROM q, codes cd $centJoins
              |  WHERE cd.vec_id != q.query_id
              |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)
    })),

    // IVF+PQ with exact re-ranking — the production ANN composition: coarse cells
    // prune, PQ codes compress, the ADC top-20 re-scores with exact cosine. Both
    // quantizers use lloydIters=0 md5 samples, so the oracle rebuilds the entire
    // index relationally: cells + per-subspace codes + probes + ADC shortlist +
    // exact rerank, ranking rules matched stage by stage. Coarse/probe scores use
    // the same left-associated double chains as the PQ stages, against explicitly
    // normalized centroid components (duckChainDotScaled) — bit-identical arithmetic
    // to Spark's dot-against-driver-normalized centroids, so near-tie cell
    // assignment can't flip between engines (the float-determinism recipe).
    "s5_ann_ivfpq" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      Similarity.ivfPqTopK(all.filter(col("vec_id") % 50 === 0), all, k = 5, dim = 64,
        nlist = 16, nprobe = 4, m = 8, ksub = 16, rerank = 20)
        .select(col("query_id"), col("neighbor_id"), col("rk"))
        .orderBy("query_id", "rk")
    }, ivfPqDuckOracle)),

    // The same ANN result served from a PERSISTED index: buildIvfPq ->
    // saveIvfPq -> parquet -> loadIvfPq -> ivfPqQuery with s5's parameters must
    // reproduce ivfPqTopK exactly (parquet round-trips the quantizer doubles
    // and code bytes bit-exactly), so one oracle covers both APIs -- and the
    // serve path a 100 TB deployment runs (index built once, mounted per job)
    // is itself driver-checked against DuckDB.
    "s6_ann_ivfpq_index" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx_").toString
      val built = Similarity.buildIvfPq(all, dim = 64, nlist = 16, m = 8, ksub = 16)
      Similarity.saveIvfPq(built, tmp)
      val loaded = Similarity.loadIvfPq(s, tmp)
      materializeAndClean(s,
        Similarity.ivfPqQuery(loaded, all.filter(col("vec_id") % 50 === 0),
          k = 5, nprobe = 4, rerank = 20)
          .select(col("query_id"), col("neighbor_id"), col("rk"))
          .orderBy("query_id", "rk"),
        tmp)
    }, ivfPqDuckOracle)),

    // Hard-negative mining for contrastive embedding training (DPR/SimCSE/E5
    // batch construction): per anchor, the top-3 most-similar DIFFERENT-label
    // vectors, with near-duplicates above cos 0.95 excluded as presumed label
    // noise. The fixture plants exactly that noise: every anchor re-enters the
    // corpus as id+100000 with its label flipped — cos 1.0 to its anchor, so
    // without the exclusion it would top every ranking; the natural cross-label
    // ceiling is 0.45, so every planted row's exclusion is load-bearing.
    "s7_hard_negatives" -> (((s: SparkSession, dir: String) => {
      val all = embs(s, dir)
      val anchors = all.filter(col("vec_id") % 50 === 0)
      val poisoned = anchors.select((col("vec_id") + 100000).alias("vec_id"),
        col("embedding"), pmod(col("label") + 1, lit(10)).alias("label"))
      Similarity.hardNegatives(anchors, all.union(poisoned), k = 3)
        .orderBy("query_id", "rk")
    },
      Some("""WITH c AS (
             |  SELECT vec_id, embedding, label FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id, embedding,
             |    CAST((label + 1) % 10 AS INT) AS label
             |  FROM embeddings WHERE vec_id % 50 = 0
             |), q AS (
             |  SELECT vec_id AS query_id, embedding AS qv, label AS ql
             |  FROM embeddings WHERE vec_id % 50 = 0
             |)
             |SELECT query_id, vec_id AS negative_id,
             |  cast(row_number() OVER (PARTITION BY query_id
             |    ORDER BY list_cosine_similarity(qv, embedding) DESC, vec_id) as int) AS rk
             |FROM q, c
             |WHERE c.label != ql AND list_cosine_similarity(qv, embedding) < 0.95
             |QUALIFY rk <= 3
             |ORDER BY query_id, rk""".stripMargin))),

    // ---------------- text analysis ----------------

    "t1_langid" -> (((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.langId(col("text")).alias("lang_pred"))
        .orderBy("doc_id"),
      Some(duckLangId))),

    "t2_quality" -> (((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.qualityScore(col("text")).alias("quality"))
        .orderBy("doc_id"),
      Some(duckQuality))),

    "t3_tokens" -> (((s: SparkSession, dir: String) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).alias("n_tokens"),
        TextAnalysis.subwordCount(col("text")).alias("n_subwords"),
        TextAnalysis.bpeTokenCount(col("text")).alias("n_bpe"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  cast($duckTok as bigint) AS n_tokens,
              |  cast(greatest($duckTok, ceil(length(text) / 4.0)) as bigint) AS n_subwords,
              |  cast(len(regexp_extract_all(text,
              |    '${TextAnalysis.bpePattern.replace("'", "''")}')) as bigint) AS n_bpe
              |FROM documents ORDER BY doc_id""".stripMargin))),

    "t4_fingerprint" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"), TextAnalysis.fingerprint(col("text")).alias("fp"))
      d.join(d.groupBy("fp").agg(count(lit(1)).alias("n_dups")), "fp")
        .select(col("doc_id"), col("fp"), col("n_dups"))
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id, $duckFp AS fp,
              |  count(*) OVER (PARTITION BY $duckFp) AS n_dups
              |FROM documents ORDER BY doc_id""".stripMargin))),

    // Corpus-frequency top-k (boilerplate detection): most common word trigrams by
    // DOCUMENT frequency (shingles are distinct per doc). Exact; one shuffle sized
    // by distinct shingles (map-side partial counts) + TakeOrdered for the top-k —
    // the plan that holds when the corpus is 100 TB but the answer is 25 rows.
    "t5_top_ngrams" -> (((s: SparkSession, dir: String) =>
      Dedup.shingles(docs(s, dir), "text", "doc_id", n = 3)
        .groupBy(col("shingle")).agg(count(lit(1)).alias("n_docs"))
        .orderBy(col("n_docs").desc, col("shingle"))
        .limit(25),
      Some(s"""$duckShingleSets
              |SELECT shingle, count(*) AS n_docs
              |FROM (SELECT doc_id, unnest(s) AS shingle FROM g)
              |GROUP BY shingle
              |ORDER BY n_docs DESC, shingle
              |LIMIT 25""".stripMargin))),

    // Bounded-state heavy hitters: t5's top-25 boilerplate grams through the
    // Misra-Gries candidates → exact-recount path instead of the unbounded groupBy.
    // 16384 counters sketch genuinely at sf0.1 (27k distinct grams) while the
    // exactness condition (25th df > N/(counters+1)) holds at both gate SFs, so the
    // oracle is t5's exact SQL — equality, not approximation; the operator's
    // verified mode re-checks the condition at runtime and would fall back to the
    // exact plan rather than return an unproven ranking.
    "t19_top_ngrams_sketch" -> (((s: SparkSession, dir: String) =>
      Dedup.topNgramsBounded(docs(s, dir), "text", "doc_id",
        n = 3, topK = 25, counters = 16384),
      Some(s"""$duckShingleSets
              |SELECT shingle, count(*) AS n_docs
              |FROM (SELECT doc_id, unnest(s) AS shingle FROM g)
              |GROUP BY shingle
              |ORDER BY n_docs DESC, shingle
              |LIMIT 25""".stripMargin))),

    // Model-based quality filtering (the GPT-3/FineWeb-Edu classifier stage) as a
    // two-class hashed-bigram vote classifier: positive seed = held-out English
    // docs, negative seed = held-out non-English docs, corpus = the rest. Each
    // bucket votes by integer cross-multiplied frequency ratio, doc score = sum of
    // votes — all-integer, so the DuckDB replay of train+score is hash-exact. The
    // English corpus docs score positive, non-English negative (checked in
    // CurationSpec); here the driver verifies the full score surface.
    "t20_quality_classifier" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val held = d.filter(col("doc_id") % 5 === 0)
      Curation.qualityClassifierScores(
          d.filter(col("doc_id") % 5 =!= 0),
          held.filter(col("lang") === "en"), held.filter(col("lang") =!= "en"),
          "text", "doc_id", n = 2, buckets = 65536)
        .select(col("id").alias("doc_id"), col("n_grams"), col("score"), col("keep"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, lang, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), g AS (
             |  SELECT doc_id, lang, list_distinct(list_transform(range(1, len(words)),
             |    i -> words[i] || ' ' || words[i+1])) AS s
             |  FROM w WHERE len(words) >= 2
             |), grams AS (
             |  SELECT doc_id, lang,
             |    ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT % 65536 AS bucket
             |  FROM g
             |), pos AS (
             |  SELECT bucket, count(*) AS cp FROM grams
             |  WHERE doc_id % 5 = 0 AND lang = 'en' GROUP BY bucket
             |), neg AS (
             |  SELECT bucket, count(*) AS cn FROM grams
             |  WHERE doc_id % 5 = 0 AND lang != 'en' GROUP BY bucket
             |), tot AS (
             |  SELECT (SELECT sum(cp) FROM pos) AS np, (SELECT sum(cn) FROM neg) AS nn
             |), votes AS (
             |  SELECT coalesce(pos.bucket, neg.bucket) AS bucket,
             |    sign(coalesce(cp, 0) * nn - coalesce(cn, 0) * np)::BIGINT AS vote
             |  FROM pos FULL OUTER JOIN neg ON pos.bucket = neg.bucket, tot
             |)
             |SELECT g.doc_id, count(*) AS n_grams,
             |  coalesce(sum(v.vote), 0)::BIGINT AS score,
             |  coalesce(sum(v.vote), 0) > 0 AS keep
             |FROM grams g LEFT JOIN votes v USING (bucket)
             |WHERE g.doc_id % 5 != 0
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin))),

    // Deterministic content-hash sampling: keep documents whose fingerprint hashes
    // into bucket 0 of 10 — reproducible across runs AND engines (md5-derived
    // bucket), the sampling a training pipeline wants (same doc always lands in
    // the same split; no RNG state, pure map stage).
    "t6_hash_sample" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          Dedup.md5Hash60(TextAnalysis.fingerprint(col("text"))).alias("h"))
        .filter(col("h") % 10 === 0)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id FROM documents
              |WHERE ('0x' || substr(md5($duckFp), 1, 15))::BIGINT % 10 = 0
              |ORDER BY doc_id""".stripMargin))),

    // End-to-end curation composition — the actual shape of a training-data prep
    // job: exact dedup → language filter → quality floor, emitting the surviving
    // ids with their scores. Every stage is an operator verified on its own above;
    // this proves they compose (one pipeline, no intermediate materialization).
    "p1_curate" -> (((s: SparkSession, dir: String) =>
      Dedup.exact(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).alias("lang_pred"),
          TextAnalysis.qualityScore(col("text")).alias("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .orderBy("doc_id"),
      Some(s"""WITH kept AS (
              |  SELECT doc_id, text FROM (
              |    SELECT doc_id, text,
              |      row_number() OVER (PARTITION BY $duckFp ORDER BY doc_id) AS rn
              |    FROM documents) WHERE rn = 1
              |)
              |SELECT k.doc_id, l.lang_pred, q.quality
              |FROM kept k
              |JOIN ($duckLangId) l ON l.doc_id = k.doc_id
              |JOIN ($duckQuality) q ON q.doc_id = k.doc_id
              |WHERE l.lang_pred = 'en' AND q.quality >= 0.5
              |ORDER BY k.doc_id""".stripMargin))),

    // Curation AUDIT — the lineage view of p1: every document gets a verdict row
    // naming the FIRST stage that would drop it (duplicate → language → quality)
    // or 'kept'. The "why was this doc dropped" query a production pipeline must
    // answer, computed in ONE pass: the dedup window is the only shuffle (same
    // key as the dedup itself), language/quality are map-only expressions — the
    // audit costs no more than the curation it explains, at any corpus size.
    "p11_curation_audit" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val d = base.union(base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).alias("doc_id"), col("text")))
      val rn = row_number().over(
        Window.partitionBy(TextAnalysis.fingerprint(col("text"))).orderBy("doc_id"))
      d.select(col("doc_id"),
          rn.alias("rn"),
          TextAnalysis.langId(col("text")).alias("lang_pred"),
          TextAnalysis.qualityScore(col("text")).alias("quality"))
        .select(col("doc_id"),
          when(col("rn") > 1, "duplicate")
            .when(col("lang_pred") =!= "en", "language")
            .when(col("quality") < 0.5, "quality")
            .otherwise("kept").alias("verdict"),
          col("lang_pred"), col("quality"))
        .orderBy("doc_id")
    },
      Some(s"""WITH b AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
              |), r AS (
              |  SELECT doc_id,
              |    row_number() OVER (PARTITION BY $duckFp ORDER BY doc_id) AS rn
              |  FROM b
              |)
              |SELECT b.doc_id,
              |  CASE WHEN r.rn > 1 THEN 'duplicate'
              |       WHEN l.lang_pred != 'en' THEN 'language'
              |       WHEN q.quality < 0.5 THEN 'quality'
              |       ELSE 'kept' END AS verdict,
              |  l.lang_pred, q.quality
              |FROM b
              |JOIN r ON r.doc_id = b.doc_id
              |JOIN ($duckLangId) l
              |  ON l.doc_id = CASE WHEN b.doc_id > 99999 THEN b.doc_id - 100000 ELSE b.doc_id END
              |JOIN ($duckQuality) q
              |  ON q.doc_id = CASE WHEN b.doc_id > 99999 THEN b.doc_id - 100000 ELSE b.doc_id END
              |ORDER BY b.doc_id""".stripMargin))),

    // The full curation composition — every stage an independently-verified
    // operator, chained as ONE lazy plan: exact dedup → MinHash near-dup pairs →
    // connected components (drop non-canonical members) → 13-gram benchmark
    // decontamination → language + quality gate. The oracle rebuilds the identical
    // five stages (window dedup, all-pairs Jaccard, recursive closure, gram
    // semi-join, score filters) in one recursive CTE chain.
    "p7_full_curation" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 20 === 0)
      // kept1/kept2 are branch points (near-dup pipeline + anti-join + decontam all
      // consume them): persist spill-safely so the dedup aggregation and the text
      // bodies are computed once, not once per stage (cf. Dedup.minHashNearDup)
      val kept1 = Dedup.exact(d.filter(col("doc_id") % 20 =!= 0), "text", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minHashNearDup(kept1, "text", "doc_id",
        n = 3, k = 32, bands = 16, threshold = 0.7).select(col("id_a"), col("id_b"))
      val members = Curation.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").alias("doc_id"))
      val kept2 = kept1.join(members, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Curation.decontaminate(kept2, bench, "text", "doc_id", n = 13)
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).alias("lang_pred"),
          TextAnalysis.qualityScore(col("text")).alias("quality"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.4)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }, {
      val shingleOverKept = duckShingleSets
        .replaceFirst("WITH", "")
        .replace("FROM documents", "FROM kept1")
      Some(s"""WITH RECURSIVE kept1 AS (
              |  SELECT doc_id, text FROM (
              |    SELECT doc_id, text,
              |      row_number() OVER (PARTITION BY $duckFp ORDER BY doc_id) AS rn
              |    FROM documents WHERE doc_id % 20 != 0) WHERE rn = 1
              |), $shingleOverKept, p AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM g a, g b
              |  WHERE a.doc_id < b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), e AS (
              |  SELECT id_a AS u, id_b AS v FROM p
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM p
              |), reach(u, v) AS (
              |  SELECT u, v FROM e
              |  UNION
              |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
              |), members AS (
              |  SELECT u AS doc_id FROM reach GROUP BY u
              |  HAVING least(u, min(v)) != u
              |), kept2 AS (
              |  SELECT k.doc_id, k.text FROM kept1 k
              |  WHERE k.doc_id NOT IN (SELECT doc_id FROM members)
              |), w13 AS (
              |  SELECT doc_id, list_filter(
              |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\\s+'),
              |    x -> len(x) > 0) AS wds
              |  FROM documents
              |), g13 AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(wds) - 11, 1)),
              |    i -> array_to_string(list_slice(wds, i, i + 12), ' '))) AS s
              |  FROM w13 WHERE len(wds) >= 13
              |), benchg AS (
              |  SELECT DISTINCT unnest(s) AS sh FROM g13 WHERE doc_id % 20 = 0
              |), contaminated AS (
              |  SELECT DISTINCT t.doc_id
              |  FROM (SELECT doc_id, unnest(s) AS sh FROM g13) t
              |  JOIN kept2 USING (doc_id)
              |  WHERE t.sh IN (SELECT sh FROM benchg)
              |), kept3 AS (
              |  SELECT doc_id FROM kept2
              |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
              |)
              |SELECT k.doc_id
              |FROM kept3 k
              |JOIN ($duckLangId) l USING (doc_id)
              |JOIN ($duckQuality) q USING (doc_id)
              |WHERE l.lang_pred = 'en' AND q.quality >= 0.4
              |ORDER BY k.doc_id""".stripMargin)
    })),

    // ---------------- corpus curation ----------------

    // Benchmark decontamination (GPT-3/Dolma 13-gram rule): benchmark = every 20th
    // document; training docs sharing any 13-gram with it are flagged. The Spark side
    // compares xxhash64 of the shingles (8-byte broadcast set); the oracle compares
    // the shingle strings themselves — equivalent short of a 64-bit hash collision.
    "p2_decontam" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Curation.contaminatedIds(
          d.filter(col("doc_id") % 20 =!= 0), d.filter(col("doc_id") % 20 === 0),
          "text", "doc_id", n = 13)
        .orderBy("doc_id")
    },
      Some(s"""${duckShingleSetsN(13)},
              |bench AS (SELECT DISTINCT unnest(s) AS sh FROM g WHERE doc_id % 20 = 0)
              |SELECT DISTINCT doc_id
              |FROM (SELECT doc_id, unnest(s) AS sh FROM g WHERE doc_id % 20 != 0) t
              |WHERE sh IN (SELECT sh FROM bench)
              |ORDER BY doc_id""".stripMargin))),

    // Per-domain cap (crawl balancing): keep the 20 highest-quality docs per source.
    // Exercises the skew-safe two-phase top-K; ordering is total (quality desc, id),
    // so the salted plan's output equals the plain window's exactly.
    "p3_domain_cap" -> (((s: SparkSession, dir: String) =>
      Curation.topKPerKey(
          docs(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).alias("quality")),
          "source", Seq(col("quality").desc, col("doc_id")), k = 20)
        .select(col("source"), col("doc_id"), col("quality"))
        .orderBy("source", "doc_id"),
      Some(s"""WITH q AS ($duckQuality), r AS (
              |  SELECT d.source, d.doc_id, q.quality,
              |    row_number() OVER (PARTITION BY d.source
              |      ORDER BY q.quality DESC, d.doc_id) AS rk
              |  FROM documents d JOIN q ON q.doc_id = d.doc_id
              |)
              |SELECT source, doc_id, quality FROM r WHERE rk <= 20
              |ORDER BY source, doc_id""".stripMargin))),

    // SemDeDup: within-cell cosine near-dup pairs over the IVF quantizer's cells
    // (lloydIters=0 keeps centroids as md5-sampled corpus vectors, so the oracle
    // rebuilds the identical clustering relationally — same construction as s3).
    "d7_semdedup" -> (((s: SparkSession, dir: String) =>
      Curation.semanticDedup(embs(s, dir), threshold = 0.45, nlist = 16,
        lloydIters = 0)
        .orderBy("id_a", "id_b"),
      Some("""WITH cent AS (
             |  SELECT embedding AS centroid,
             |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS cid
             |  FROM (SELECT vec_id, embedding FROM embeddings
             |        ORDER BY md5(cast(vec_id as varchar)) LIMIT 16)
             |), cells AS (
             |  SELECT vec_id, embedding, cid FROM (
             |    SELECT e.vec_id, e.embedding, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cid DESC) AS crk
             |    FROM embeddings e, cent c) WHERE crk = 1
             |)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin))),

    // Prototypicality pruning (Sorscher et al. 2022, arXiv:2206.14486): drop the
    // most-prototypical HALF of every quantizer cell, keeping the informative tail.
    // lloydIters=0 keeps centroids as raw md5-sampled corpus vectors (d7's
    // construction), so the oracle re-derives cells, the cosine-to-centroid score,
    // and the within-cell rank relationally; fraction=0.5 is binary-exact so
    // floor(n * 0.5) agrees in both engines.
    "p15_prototype_prune" -> (((s: SparkSession, dir: String) =>
      Curation.prototypicalityPrune(embs(s, dir), fraction = 0.5, nlist = 16,
        lloydIters = 0)
        .select(col("id").alias("vec_id"), col("cid"), col("rk"), col("n"))
        .orderBy("vec_id"),
      Some("""WITH cent AS (
             |  SELECT embedding AS centroid,
             |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS cid
             |  FROM (SELECT vec_id, embedding FROM embeddings
             |        ORDER BY md5(cast(vec_id as varchar)) LIMIT 16)
             |), cells AS (
             |  SELECT vec_id, embedding, cid, centroid FROM (
             |    SELECT e.vec_id, e.embedding, c.cid, c.centroid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cid DESC) AS crk
             |    FROM embeddings e, cent c) WHERE crk = 1
             |), ranked AS (
             |  SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY list_cosine_similarity(embedding, centroid) DESC, vec_id) AS rk,
             |    count(*) OVER (PARTITION BY cid) AS n
             |  FROM cells
             |)
             |SELECT vec_id, cast(cid as int) AS cid, cast(rk as int) AS rk, n
             |FROM ranked WHERE rk > floor(n * 0.5)
             |ORDER BY vec_id""".stripMargin))),

    // Cluster-balanced sampling (DataComp/DCLM diversity shape): cap every
    // quantizer cell at 40 members chosen in md5(id) order — over-represented
    // embedding regions are capped, rare ones survive whole. Same deterministic
    // quantizer as d7/p15; the md5 schedule is the t6/p4 sampling scheme.
    "p16_cluster_balance" -> (((s: SparkSession, dir: String) =>
      Curation.clusterBalancedSample(embs(s, dir), perCluster = 40, nlist = 16,
        lloydIters = 0)
        .select(col("id").alias("vec_id"), col("cid"))
        .orderBy("vec_id"),
      Some("""WITH cent AS (
             |  SELECT embedding AS centroid,
             |    row_number() OVER (ORDER BY md5(cast(vec_id as varchar))) AS cid
             |  FROM (SELECT vec_id, embedding FROM embeddings
             |        ORDER BY md5(cast(vec_id as varchar)) LIMIT 16)
             |), cells AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT e.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.embedding, c.centroid) DESC, c.cid DESC) AS crk
             |    FROM embeddings e, cent c) WHERE crk = 1
             |), r AS (
             |  SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY md5(cast(vec_id as varchar)), vec_id) AS rk
             |  FROM cells
             |)
             |SELECT vec_id, cast(cid as int) AS cid FROM r WHERE rk <= 40
             |ORDER BY vec_id""".stripMargin))),

    // Incremental snapshot dedup: the "new batch" is every 3rd doc plus planted
    // copies (id+100000) of every 40th; the existing-corpus index is the OTHER docs'
    // fingerprints. Planted copies whose original sits in the existing corpus are
    // dropped by the index anti-join; copies whose original is in the batch itself
    // are dropped by the within-batch exact dedup — both paths verified.
    "d8_incremental" -> (((s: SparkSession, dir: String) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 100000).alias("doc_id"), col("text"))
      val newBatch = base.filter(col("doc_id") % 3 === 0).union(planted)
      val index = base.filter(col("doc_id") % 3 =!= 0)
        .select(TextAnalysis.fingerprint(col("text")).alias("fp"))
      Curation.incrementalDedup(newBatch, index, "text", "doc_id")
        .select(col("doc_id")).orderBy("doc_id")
    },
      Some(s"""WITH newb AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
              |), ex AS (
              |  SELECT $duckFp AS fp FROM documents WHERE doc_id % 3 != 0
              |), fresh AS (
              |  SELECT doc_id, $duckFp AS fp FROM newb
              |  WHERE $duckFp NOT IN (SELECT fp FROM ex)
              |)
              |SELECT doc_id FROM (
              |  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |  FROM fresh) WHERE rn = 1
              |ORDER BY doc_id""".stripMargin))),

    // Duplicate-pair clustering: near-dup pairs (d2's MinHash pipeline) are edges;
    // collapsing them into groups — A~B, B~C ⇒ {A,B,C} even though (A,C) was never
    // emitted — is connected components (alternating large-star/small-star, O(log n)
    // rounds). component = min doc_id of the group, the canonical keeper. The oracle
    // rebuilds the same closure with a recursive CTE over the exact-Jaccard pairs.
    //
    // RECALL ASSUMPTION (shared with d2/p7): the Spark side emits MinHash-LSH
    // candidates (k=32, 16 bands × 2 rows) while the oracle computes exact all-pairs
    // Jaccard ≥ 0.7 — they agree only when no true pair misses every band. At the
    // 0.7 threshold the banding's expected recall is 1 − (1 − 0.7²)^16 ≈ 0.9999 per
    // pair, and the fixture's true pairs are planted near-exact copies (Jaccard
    // ≈ 1.0 ⇒ miss probability (1 − 1)^16 = 0). PipelineOracleSpec pins the
    // assumption: every exact-Jaccard pair in the fixture must be banded out, so a
    // fixture regeneration that drifts toward the recall knee fails a TEST, not the
    // driver gate.
    "d9_dup_clusters" -> (((s: SparkSession, dir: String) => {
      val pairs = Dedup.minHashNearDup(docs(s, dir), "text", "doc_id",
        n = 3, k = 32, bands = 16, threshold = 0.7).select(col("id_a"), col("id_b"))
      Curation.connectedComponents(pairs)
        .select(col("id").alias("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      Some(s"""${duckShingleSets.replaceFirst("WITH", "WITH RECURSIVE")}, p AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM g a, g b
              |  WHERE a.doc_id < b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), e AS (
              |  SELECT id_a AS u, id_b AS v FROM p
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM p
              |), reach(u, v) AS (
              |  SELECT u, v FROM e
              |  UNION
              |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
              |)
              |SELECT u AS doc_id, least(u, min(v)) AS component
              |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin))),

    // Exact substring-duplication spans (Lee et al. 2022, arXiv:2107.06499): the
    // corpus is the fixture plus planted full copies (id+100000 of every 25th doc)
    // and 30-word-prefix "franken" docs (id+200000 of every 40th) — full copies must
    // produce whole-document spans, prefix copies a merged [0, 30) span in both the
    // copy and its source. Spark hashes each 13-word window (xxhash64) and
    // interval-merges duplicated positions; the oracle groups the window TEXT
    // itself — identical answers unless a 64-bit hash collides.
    "d10_dup_spans" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copies = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).alias("doc_id"), col("text"))
      val franken = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 200000).alias("doc_id"),
          concat_ws(" ", slice(Dedup.wordsArray(col("text")), 1, 30)).alias("text"))
      Dedup.duplicateSpans(d.union(copies).union(franken), "text", "doc_id",
          window = 13)
        .select(col("id").alias("doc_id"), col("span_start"), col("span_end"),
          col("n_words"))
        .orderBy("doc_id", "span_start")
    },
      Some(s"""WITH base AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
              |  UNION ALL
              |  SELECT doc_id + 200000 AS doc_id,
              |    array_to_string(($duckWords)[1:30], ' ') AS text
              |  FROM documents WHERE doc_id % 40 = 0
              |), w AS (
              |  SELECT doc_id, $duckWords AS words FROM base
              |), wins AS (
              |  SELECT doc_id, unnest(range(len(words) - 12)) AS pos, words
              |  FROM w WHERE len(words) >= 13
              |), wt AS (
              |  SELECT doc_id, pos, array_to_string(words[pos+1:pos+13], ' ') AS win
              |  FROM wins
              |), dup AS (
              |  SELECT win FROM wt GROUP BY win HAVING count(*) >= 2
              |), d AS (
              |  SELECT doc_id, pos FROM wt WHERE win IN (SELECT win FROM dup)
              |), m AS (
              |  SELECT doc_id, pos,
              |    CASE WHEN pos > coalesce(max(pos + 13) OVER (PARTITION BY doc_id
              |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              |      THEN 1 ELSE 0 END AS ns
              |  FROM d
              |), sp AS (
              |  SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM m
              |)
              |SELECT doc_id, cast(min(pos) as int) AS span_start,
              |  cast(max(pos) + 13 as int) AS span_end,
              |  cast(max(pos) + 13 - min(pos) as int) AS n_words
              |FROM sp GROUP BY doc_id, sid
              |ORDER BY doc_id, span_start""".stripMargin))),

    // Online near-dup curation in two arrival waves (evens first, then odds) via
    // incrementalNearDedup — the foreachBatch micro-batch operator run as two
    // explicit batches: wave-2 docs drop on a verified near-match to an indexed
    // wave-1 survivor OR a lower-id doc of their own wave. The oracle replays the
    // same online rule over the exact all-pairs Jaccard graph (two NOT EXISTS
    // levels — no recursion needed for two waves). Equality rests on LSH recall
    // being 1.0 on the fixture, the same pinned-above-the-banding-knee assumption
    // documented at d9.
    "d11_incremental_neardup" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val wave1 = d.filter(col("doc_id") % 2 === 0)
      val wave2 = d.filter(col("doc_id") % 2 =!= 0)
      val (s1, i1raw) = Curation.incrementalNearDedup(
        wave1, Curation.emptyNearDupIndex(s), "text", "doc_id", threshold = 0.7)
      // the index feeds two wave-2 subtrees (band join + set verify); in the
      // foreachBatch flow it is a materialized parquet read — here persist stands
      // in for that materialization so wave 1 isn't recomputed per subtree
      val i1 = i1raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (s2, _) = Curation.incrementalNearDedup(
        wave2, i1, "text", "doc_id", threshold = 0.7)
      s1.select(col("doc_id")).union(s2.select(col("doc_id"))).orderBy("doc_id")
    },
      Some(s"""$duckShingleSets, p AS (
              |  SELECT a.doc_id AS ia, b.doc_id AS ib
              |  FROM g a, g b
              |  WHERE a.doc_id != b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), surv1 AS (
              |  SELECT doc_id FROM documents d1
              |  WHERE doc_id % 2 = 0
              |    AND NOT EXISTS (SELECT 1 FROM p
              |      WHERE p.ib = d1.doc_id AND p.ia % 2 = 0 AND p.ia < d1.doc_id)
              |), surv2 AS (
              |  SELECT doc_id FROM documents d2
              |  WHERE doc_id % 2 = 1
              |    AND NOT EXISTS (SELECT 1 FROM p
              |      WHERE p.ib = d2.doc_id AND p.ia % 2 = 1 AND p.ia < d2.doc_id)
              |    AND NOT EXISTS (SELECT 1 FROM p JOIN surv1 s1 ON p.ia = s1.doc_id
              |      WHERE p.ib = d2.doc_id)
              |)
              |SELECT doc_id FROM surv1
              |UNION ALL SELECT doc_id FROM surv2
              |ORDER BY doc_id""".stripMargin))),

    // Bloom-filter scale path for incremental dedup: same fixture as d8 (batch =
    // every 3rd doc + planted copies of every 40th; index = the other docs'
    // fingerprints), but the index is pre-probed through a broadcast Bloom filter so
    // only maybe-seen rows reach the anti-join. Bloom false positives are resolved
    // by the exact join and false negatives don't exist, so the oracle is the SAME
    // exact-dedup SQL as d8 — the driver checks equality, not approximation.
    "d12_incremental_bloom" -> (((s: SparkSession, dir: String) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 100000).alias("doc_id"), col("text"))
      val newBatch = base.filter(col("doc_id") % 3 === 0).union(planted)
      val index = base.filter(col("doc_id") % 3 =!= 0)
        .select(TextAnalysis.fingerprint(col("text")).alias("fp"))
      Curation.incrementalDedupBloom(newBatch, index, "text", "doc_id", fpp = 0.01)
        .select(col("doc_id")).orderBy("doc_id")
    },
      Some(s"""WITH newb AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
              |), ex AS (
              |  SELECT $duckFp AS fp FROM documents WHERE doc_id % 3 != 0
              |), fresh AS (
              |  SELECT doc_id, $duckFp AS fp FROM newb
              |  WHERE $duckFp NOT IN (SELECT fp FROM ex)
              |)
              |SELECT doc_id FROM (
              |  SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              |  FROM fresh) WHERE rn = 1
              |ORDER BY doc_id""".stripMargin))),

    // Asymmetric containment dedup (Broder's C(A→B) = |A∩B|/|A|): catches
    // document-INSIDE-document duplication — planted 30-word excerpt docs score
    // containment 1.0 in their source (Jaccard ≈ 0.15 there, invisible to d2/d4),
    // and suffix-extended docs contain their original whole. The oracle is exact
    // all-pairs containment over the same distinct-shingle sets; both engines
    // compute inter/|A| with one rounded division, and the Spark side's capped
    // inverted index is exact here because no shingle's df can approach the cap.
    "d13_containment" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val excerpt = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 200000).alias("doc_id"),
          concat_ws(" ", slice(Dedup.wordsArray(col("text")), 1, 30)).alias("text"))
      val extended = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 300000).alias("doc_id"),
          concat(col("text"), lit(" zq0 zq1 zq2 zq3 zq4")).alias("text"))
      Dedup.containmentNearDup(d.union(excerpt).union(extended),
          "text", "doc_id", threshold = 0.9)
        .orderBy("contained_id", "container_id")
    },
      Some(s"""WITH base AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 200000 AS doc_id,
              |    array_to_string(($duckWords)[1:30], ' ') AS text
              |  FROM documents WHERE doc_id % 40 = 0
              |  UNION ALL
              |  SELECT doc_id + 300000 AS doc_id,
              |    text || ' zq0 zq1 zq2 zq3 zq4' AS text
              |  FROM documents WHERE doc_id % 50 = 0
              |), w AS (
              |  SELECT doc_id, list_filter(
              |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\\s+'),
              |    x -> len(x) > 0) AS words
              |  FROM base
              |), g AS (
              |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words) - 1, 1)),
              |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
              |  FROM w WHERE len(words) >= 3
              |)
              |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |  round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6) AS containment
              |FROM g a JOIN g b ON a.doc_id != b.doc_id
              |WHERE round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6) >= 0.9
              |ORDER BY contained_id, container_id""".stripMargin))),

    // CCNet-style line-level boilerplate removal: documents are re-lined (newline
    // every 8 words) and every doc gets a universal "subscribe" footer plus a
    // per-source footer; lines appearing in ≥ 25% of documents are dropped and the
    // text rebuilt from surviving lines. The universal footer crosses the threshold,
    // per-source footers (~10% each) stay — selectivity is part of the check.
    "t10_line_dedup" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val thr = math.ceil(0.25 * d.count()).toInt
      val lined = d.select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n"),
          lit("\nsubscribe to our newsletter"),
          lit("\nvisit "), col("source"), lit(" homepage")).alias("text"))
      Curation.dedupLines(lined, "text", "doc_id", minDocFreq = thr)
        .select(col("id").alias("doc_id"), col("n_lines"), col("cleaned"))
        .orderBy("doc_id")
    },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    regexp_replace(text, '((\S+ ){7}\S+) ', '\1' || chr(10), 'g')
             |      || chr(10) || 'subscribe to our newsletter'
             |      || chr(10) || 'visit ' || source || ' homepage' AS t
             |  FROM documents
             |), lx AS (
             |  SELECT doc_id, string_split(t, chr(10)) AS l FROM base
             |), lines AS (
             |  SELECT doc_id, ix, l[ix + 1] AS line
             |  FROM (SELECT doc_id, l, unnest(range(len(l))) AS ix FROM lx)
             |), freq AS (
             |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
             |  GROUP BY line
             |  HAVING count(*) >= (SELECT ceil(0.25 * count(*)) FROM documents)
             |), kept AS (
             |  SELECT doc_id, ix, line FROM lines
             |  WHERE line NOT IN (SELECT line FROM freq)
             |)
             |SELECT doc_id, count(*) AS n_lines,
             |  string_agg(line, chr(10) ORDER BY ix) AS cleaned
             |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    // Deterministic weighted corpus mixing: per-source keep rates (0.25/0.50/0.75,
    // derived from the source number) applied via md5(doc_id) uniforms — the
    // domain-reweighting step of a training mix, reproducible in any engine.
    "p5_weighted_mix" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val rates = d.select(col("source")).distinct()
        .withColumn("rate",
          lit(0.25) + lit(0.5) *
            (substring(col("source"), 4, 10).cast("int") % 3).cast("double") / 2.0)
      Curation.weightedMix(d.select(col("doc_id"), col("source")),
          "source", "doc_id", rates)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, source FROM documents
             |WHERE (('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT
             |        % 1000000)::DOUBLE / 1000000.0
             |  < 0.25 + 0.5 * (cast(substr(source, 4, 10) as int) % 3)::DOUBLE / 2.0
             |ORDER BY doc_id""".stripMargin))),

    // BM25-style lexical retrieval (keyword search complement to the s* vector
    // family): rational idf form + fixed-order term sum keeps every floating-point
    // operation identical across engines, so the ranked result hash-matches.
    "t12_bm25" -> (((s: SparkSession, dir: String) =>
      TextAnalysis.bm25(docs(s, dir), "text", "doc_id",
        terms = Seq("spark", "window", "vector"), k = 25)
        .select(col("id").alias("doc_id"), col("dl"), col("tf_0"), col("tf_1"),
          col("tf_2"), col("score")),
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), tf AS (
             |  SELECT doc_id, len(words)::BIGINT AS dl,
             |    len(list_filter(words, x -> x = 'spark'))::BIGINT AS tf_0,
             |    len(list_filter(words, x -> x = 'window'))::BIGINT AS tf_1,
             |    len(list_filter(words, x -> x = 'vector'))::BIGINT AS tf_2
             |  FROM w
             |), st AS (
             |  SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl,
             |    sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
             |    sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
             |    sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
             |  FROM tf
             |)
             |SELECT doc_id, dl, tf_0, tf_1, tf_2, score FROM (
             |  SELECT t.doc_id, t.dl, t.tf_0, t.tf_1, t.tf_2, round(
             |      ((st.n - st.df_0 + 0.5) / (st.df_0 + 0.5)) * (t.tf_0 * 2.2)
             |        / (t.tf_0 + 1.2 * (0.25 + (0.75 * t.dl) / st.avgdl))
             |    + ((st.n - st.df_1 + 0.5) / (st.df_1 + 0.5)) * (t.tf_1 * 2.2)
             |        / (t.tf_1 + 1.2 * (0.25 + (0.75 * t.dl) / st.avgdl))
             |    + ((st.n - st.df_2 + 0.5) / (st.df_2 + 0.5)) * (t.tf_2 * 2.2)
             |        / (t.tf_2 + 1.2 * (0.25 + (0.75 * t.dl) / st.avgdl)), 6) AS score
             |  FROM tf t, st
             |) WHERE score > 0
             |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin))),

    // DSIR-style data selection: hashed-bigram seed-affinity scores against a seed
    // corpus (every 10th doc), integer bucket weights so both engines sum the exact
    // same longs. Selecting the top-scored candidates biases toward the seed
    // distribution — the importance-resampling shape with a fixed-size broadcast
    // weight table.
    "p6_seed_affinity" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Curation.seedAffinityScores(
          d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 2, buckets = 65536)
        .select(col("id").alias("doc_id"), col("n_grams"), col("seed_hits"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), g AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, len(words)),
             |    i -> words[i] || ' ' || words[i+1])) AS s
             |  FROM w WHERE len(words) >= 2
             |), grams AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT % 65536 AS bucket
             |  FROM g
             |), wt AS (
             |  SELECT bucket, count(*) AS w FROM grams WHERE doc_id % 10 = 0
             |  GROUP BY bucket
             |)
             |SELECT g.doc_id, count(*) AS n_grams,
             |  coalesce(sum(wt.w), 0)::BIGINT AS seed_hits
             |FROM grams g LEFT JOIN wt USING (bucket)
             |WHERE g.doc_id % 10 != 0
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin))),

    // Gopher-style within-document repetition filters: duplicate-2/3-gram fractions
    // and the top-2-gram occurrence share. Spark computes the mode as the longest
    // equal run of the sorted gram array (map-only fold); the oracle computes the
    // same number relationally (unnest + group + max) — value-identical.
    "t11_repetition" -> (((s: SparkSession, dir: String) =>
      TextAnalysis.repetitionScores(docs(s, dir), "text", "doc_id")
        .select(col("id").alias("doc_id"), col("n_2grams"),
          col("dup_2gram_frac"), col("dup_3gram_frac"), col("top_2gram_frac"))
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), g AS (
             |  SELECT doc_id,
             |    CASE WHEN len(words) >= 2 THEN list_transform(range(1, len(words)),
             |      i -> words[i] || ' ' || words[i+1]) ELSE CAST([] AS VARCHAR[]) END AS g2,
             |    CASE WHEN len(words) >= 3 THEN list_transform(range(1, len(words) - 1),
             |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
             |      ELSE CAST([] AS VARCHAR[]) END AS g3
             |  FROM w
             |), top AS (
             |  SELECT doc_id, max(c) AS topc
             |  FROM (SELECT doc_id, count(*) AS c
             |        FROM (SELECT doc_id, unnest(g2) AS x FROM g) GROUP BY doc_id, x)
             |  GROUP BY doc_id
             |)
             |SELECT g.doc_id,
             |  cast(len(g2) as bigint) AS n_2grams,
             |  CASE WHEN len(g2) = 0 THEN 0.0
             |       ELSE round((len(g2) - len(list_distinct(g2))) / cast(len(g2) as double), 6)
             |  END AS dup_2gram_frac,
             |  CASE WHEN len(g3) = 0 THEN 0.0
             |       ELSE round((len(g3) - len(list_distinct(g3))) / cast(len(g3) as double), 6)
             |  END AS dup_3gram_frac,
             |  CASE WHEN len(g2) = 0 THEN 0.0
             |       ELSE round(coalesce(topc, 0) / cast(len(g2) as double), 6)
             |  END AS top_2gram_frac
             |FROM g LEFT JOIN top ON top.doc_id = g.doc_id
             |ORDER BY g.doc_id""".stripMargin))),

    // Deterministic stratified sampling: exactly 10 docs per source, chosen by
    // content-free md5(doc_id) order — reproducible across runs and engines, and
    // executed through the skew-safe two-phase top-K (a hot stratum never serializes
    // through one task).
    "p4_stratified_sample" -> (((s: SparkSession, dir: String) =>
      Curation.topKPerKey(
          docs(s, dir).select(col("doc_id"), col("source")),
          "source", Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 10)
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id"),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(cast(doc_id as varchar)), doc_id) AS rk
             |  FROM documents) WHERE rk <= 10
             |ORDER BY source, doc_id""".stripMargin))),

    // Overlapping word-window chunking (RAG/embedding prep): 32-word chunks every 24
    // words; chunk text compared byte-for-byte across engines.
    "t7_chunk" -> (((s: SparkSession, dir: String) =>
      Curation.chunk(docs(s, dir), "text", "doc_id", size = 32, stride = 24)
        .select(col("id").alias("doc_id"), col("chunk_ix"), col("n_words"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_ix"),
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, words,
             |    unnest(range(0, cast(ceil(len(words) / 24.0) as bigint))) AS cx
             |  FROM w WHERE len(words) > 0
             |)
             |SELECT doc_id, cast(cx as int) AS chunk_ix,
             |  cast(least(32, len(words) - cx * 24) as int) AS n_words,
             |  array_to_string(list_slice(words, cx * 24 + 1, cx * 24 + 32), ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_ix""".stripMargin))),

    // GPT-style sequence packing: concatenate docs in (bucket, id) order, cut every
    // 512 tokens; a doc's pack = the sequence its first token lands in. Buckets are
    // md5-derived so the running total parallelizes and both engines agree.
    "t8_pack" -> (((s: SparkSession, dir: String) =>
      Curation.packSequences(
          docs(s, dir).select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).alias("nt")),
          "doc_id", col("nt"), budget = 512, buckets = 8)
        .select(col("id").alias("doc_id"), col("bucket"), col("pack_ix"),
          col("pack_off"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, cast($duckTok as bigint) AS nt,
              |    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT % 8 AS bucket
              |  FROM documents
              |), p AS (
              |  SELECT doc_id, bucket,
              |    sum(nt) OVER (PARTITION BY bucket ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS st
              |  FROM t
              |)
              |SELECT doc_id, bucket,
              |  cast(floor(st / 512.0) as bigint) AS pack_ix,
              |  cast(st % 512 as bigint) AS pack_off
              |FROM p ORDER BY doc_id""".stripMargin))),

    // PII redaction: deterministic PII (email/IP/phone derived from doc_id) is
    // injected, then redacted; counts and the redacted text are compared
    // byte-for-byte (patterns are RE2-compatible, so Java and DuckDB agree).
    "t9_pii_redact" -> (((s: SparkSession, dir: String) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).alias("text"))
      Curation.redactPii(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("redacted"))
        .orderBy("doc_id")
    },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    text || ' contact user' || doc_id || '@example.com via 10.0.'
             |      || (doc_id % 256) || '.7 or call 555-'
             |      || lpad(cast(doc_id % 10000 as varchar), 4, '0') AS t
             |  FROM documents
             |)
             |SELECT doc_id,
             |  cast(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) as int) AS n_emails,
             |  cast(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) as int) AS n_ips,
             |  cast(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) as int) AS n_phones,
             |  regexp_replace(regexp_replace(regexp_replace(t,
             |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
             |FROM p ORDER BY doc_id""".stripMargin))),

    // ---------------- multimodal ----------------

    "mm1_media_meta" -> (((s: SparkSession, dir: String) =>
      Multimodal.attachFakePayload(docs(s, dir), "text")
        .select(col("doc_id"), col("media_meta.format").alias("format"),
          col("media_meta.n_bytes").alias("n_bytes"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  (['jpeg', 'png', 'wav'])[(length(text) % 3) + 1] AS format,
             |  cast(128 as int) AS n_bytes
             |FROM documents ORDER BY doc_id""".stripMargin))),

    "mm2_media_features" -> (((s: SparkSession, dir: String) => {
      val withPayload = Multimodal.attachFakePayload(docs(s, dir), "text")
      val feats = Multimodal.decodeFeatures(withPayload)
      val frames = Multimodal.sampleFrames(withPayload)
        .groupBy(col("doc_id")).agg(count(lit(1)).alias("n_frames"))
      feats.join(frames, Seq("doc_id"))
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("byte_mean"), col("byte_min"), col("byte_max"), col("n_frames"))
        .orderBy("doc_id")
    },
      // The stub decode is deterministic over the fake payload (128 UTF-8 bytes of
      // repeat(md5-hex, 4)), so the byte statistics ARE oracle-expressible: stats over
      // the 32 md5 hex chars (repetition preserves min/max; sum/128 is an exact binary
      // fraction, so the double compares bit-identically). base64(128 bytes) = 172
      // chars -> 6 frames of stride 32.
      Some(s"""WITH b AS (
              |  SELECT doc_id, length(text) AS lt,
              |    list_transform(regexp_extract_all($duckFp, '.'), c -> ord(c)) AS bytes
              |  FROM documents
              |)
              |SELECT doc_id,
              |  (['jpeg', 'png', 'wav'])[(lt % 3) + 1] AS format,
              |  cast(128 AS int) AS n_bytes,
              |  cast(list_aggregate(bytes, 'sum') AS double) / 32.0 AS byte_mean,
              |  cast(list_aggregate(bytes, 'min') AS int) AS byte_min,
              |  cast(list_aggregate(bytes, 'max') AS int) AS byte_max,
              |  cast(6 AS bigint) AS n_frames
              |FROM b ORDER BY doc_id""".stripMargin))),

    // Real image decode (not the stub): uniform-gray PNGs generated per doc_id
    // (width/height/gray all id-derived), decoded back through the JDK's ImageIO in
    // decodeFeatures — the oracle predicts the pixel statistics arithmetically
    // because PNG is lossless and the image is uniform. JPEG decode runs through
    // the same code path and is golden-tested in OperatorsSpec (DCT quantization
    // makes its pixel values deterministic but not SQL-expressible).
    "mm3_image_decode" -> (((s: SparkSession, dir: String) =>
      Multimodal.decodeFeatures(
          Multimodal.attachImagePayload(docs(s, dir).select(col("doc_id")), "doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          col("px_mean"), col("px_min"), col("px_max"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  cast(4 + doc_id % 13 as int) AS width,
             |  cast(3 + doc_id % 7 as int) AS height,
             |  cast((doc_id * 37) % 256 as double) AS px_mean,
             |  cast((doc_id * 37) % 256 as int) AS px_min,
             |  cast((doc_id * 37) % 256 as int) AS px_max
             |FROM documents ORDER BY doc_id""".stripMargin))),

    // Real WAV decode: 8-bit PCM mono payloads written by the dependency-free RIFF
    // encoder and read back by the matching parser in decodeFeatures — samples are
    // id-derived ((id + 7i) mod 256 over 50 + id%50 samples), so the oracle rebuilds
    // the exact sample statistics relationally.
    "mm4_audio_decode" -> (((s: SparkSession, dir: String) =>
      Multimodal.decodeFeatures(
          Multimodal.attachAudioPayload(docs(s, dir).select(col("doc_id")), "doc_id"))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sample_mean"), col("sample_min"), col("sample_max"))
        .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT doc_id, 50 + doc_id % 50 AS n,
             |    list_transform(range(50 + doc_id % 50), i -> (doc_id + 7*i) % 256) AS smp
             |  FROM documents
             |)
             |SELECT doc_id,
             |  cast(8000 as int) AS sample_rate,
             |  cast(n as int) AS n_samples,
             |  cast(list_aggregate(smp, 'sum') as double) / n AS sample_mean,
             |  cast(list_aggregate(smp, 'min') as int) AS sample_min,
             |  cast(list_aggregate(smp, 'max') as int) AS sample_max
             |FROM s ORDER BY doc_id""".stripMargin))),

    // Real video frame extraction: Motion-PNG AVIs written by the dependency-free
    // RIFF/AVI encoder, frames recovered by the container walker and image-decoded
    // per frame (ImageIO). Frame count/geometry/gray are id-derived
    // (n = 3 + id%4, (4 + id%6)×(3 + id%5), gray_f = (id*31 + f*17) % 256), so the
    // oracle rebuilds every frame statistic arithmetically — PNG frames are
    // lossless and uniform, mirroring the WAV construction.
    "mm5_video_frames" -> (((s: SparkSession, dir: String) =>
      Multimodal.extractFrames(
          Multimodal.attachVideoPayload(docs(s, dir).select(col("doc_id")), "doc_id"))
        .select(col("doc_id"), col("frame_no"), col("fps"), col("width"),
          col("height"), col("px_mean"), col("px_min"), col("px_max"))
        .orderBy("doc_id", "frame_no"),
      Some("""WITH fr AS (
             |  SELECT doc_id, unnest(range(3 + doc_id % 4)) AS f FROM documents
             |)
             |SELECT doc_id,
             |  cast(f as int) AS frame_no,
             |  cast(10.0 as double) AS fps,
             |  cast(4 + doc_id % 6 as int) AS width,
             |  cast(3 + doc_id % 5 as int) AS height,
             |  cast((doc_id * 31 + f * 17) % 256 as double) AS px_mean,
             |  cast((doc_id * 31 + f * 17) % 256 as int) AS px_min,
             |  cast((doc_id * 31 + f * 17) % 256 as int) AS px_max
             |FROM fr ORDER BY doc_id, frame_no""".stripMargin))),

    // Perceptual image dedup: REAL textured PNGs (pixel = md5-60 of
    // "<id%101>_<x>_<y>" mod 256; odd ids get one pixel perturbed +64) are decoded
    // back through ImageIO and fingerprinted with the standard 64-bit dHash
    // (9×8 nearest lattice, brighter-than-left bits), then paired by 4-band LSH +
    // exact hamming ≤ 3 — same-group images match at hamming ≤ 2 (the perturbed
    // pixel flips ≤ 2 bits), unrelated textures sit near hamming 32. The oracle
    // never decodes a PNG: it rebuilds every raster arithmetically from the md5
    // pixel function (lossless roundtrip) and replays the same lattice and
    // banding-free exact pair scan — banding recall is exact for hamming ≤ 3 by
    // pigeonhole, so candidate generation cannot diverge from the all-pairs scan.
    "mm6_image_neardup" -> (((s: SparkSession, dir: String) => {
      val imgs = Multimodal.attachTexturedImagePayload(
        docs(s, dir).select(col("doc_id")), "doc_id")
      Dedup.hammingNearDup(Multimodal.perceptualHash(imgs), bits = 64, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      Some("""WITH xs AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,5),(4,7),(5,8),(6,10),(7,12),(8,14)) t(x, sx)
             |), ys AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,4),(4,6),(5,7),(6,9),(7,10)) t(y, sy)
             |), px AS (
             |  SELECT d.doc_id, xs.x, ys.y,
             |    (('0x' || substr(md5((d.doc_id % 101)::VARCHAR || '_' ||
             |        xs.sx::VARCHAR || '_' || ys.sy::VARCHAR), 1, 15))::BIGINT % 256
             |      + CASE WHEN d.doc_id % 2 = 1 AND xs.sx = d.doc_id % 16
             |             AND ys.sy = d.doc_id % 12 THEN 64 ELSE 0 END) % 256 AS v
             |  FROM documents d, xs, ys
             |), sig AS (
             |  SELECT p1.doc_id,
             |    sum(CASE WHEN p2.v <= p1.v THEN 0::BIGINT
             |        WHEN p1.y * 8 + p1.x = 63 THEN -9223372036854775807 - 1
             |        ELSE (1::BIGINT << (p1.y * 8 + p1.x)) END)::BIGINT AS dhash
             |  FROM px p1 JOIN px p2
             |    ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
             |  WHERE p1.x < 8
             |  GROUP BY p1.doc_id
             |)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  cast(bit_count(xor(a.dhash, b.dhash)) as int) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
             |ORDER BY id_a, id_b""".stripMargin))),

    // Audio fingerprint dedup: REAL textured WAVs (sample = md5-60 of
    // "<id%101>_<i>" mod 256 over 80 samples; odd ids get one sample bumped +64 —
    // a click edit) decoded back through the RIFF/PCM parser and fingerprinted
    // with the Haitsma-Kalker sign-of-difference hash (64 envelope-delta bits),
    // then paired by the same 4-band hamming machinery as mm6. The oracle rebuilds
    // every waveform arithmetically and replays the fingerprint + all-pairs scan.
    "mm7_audio_neardup" -> (((s: SparkSession, dir: String) => {
      val wavs = Multimodal.attachTexturedAudioPayload(
        docs(s, dir).select(col("doc_id")), "doc_id")
      Dedup.hammingNearDup(Multimodal.audioFingerprint(wavs), bits = 64, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      Some("""WITH ix AS (
             |  SELECT unnest(range(65)) AS i
             |), smp AS (
             |  SELECT d.doc_id, ix.i,
             |    (('0x' || substr(md5((d.doc_id % 101)::VARCHAR || '_' ||
             |        ix.i::VARCHAR), 1, 15))::BIGINT % 256
             |      + CASE WHEN d.doc_id % 2 = 1 AND ix.i = d.doc_id % 80
             |        THEN 64 ELSE 0 END) % 256 AS v
             |  FROM documents d, ix
             |), sig AS (
             |  SELECT s1.doc_id,
             |    sum(CASE WHEN s2.v <= s1.v THEN 0::BIGINT
             |        WHEN s1.i = 63 THEN -9223372036854775807 - 1
             |        ELSE (1::BIGINT << s1.i) END)::BIGINT AS fp
             |  FROM smp s1 JOIN smp s2 ON s2.doc_id = s1.doc_id AND s2.i = s1.i + 1
             |  WHERE s1.i < 64
             |  GROUP BY s1.doc_id
             |)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  cast(bit_count(xor(a.fp, b.fp)) as int) AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 3
             |ORDER BY id_a, id_b""".stripMargin))),

    // Video near-dup by frame-set containment: REAL textured Motion-PNG AVIs
    // (frame f pixel = md5-60 of "<id%101>_<f>_<sx>_<sy>" mod 256; odd ids get a
    // one-pixel edit in ONE frame, ids % 5 == 0 carry only half the frames — a
    // CLIP), decoded back frame-by-frame through the RIFF walk + ImageIO, dHashed
    // per frame, and paired when either side's matched-frame fraction reaches 0.5.
    // The oracle rebuilds every frame raster arithmetically, replays the dHash
    // lattice per (doc, frame), and computes the same containment counts over an
    // exact all-pairs frame scan — banding recall is exact for hamming ≤ 3 by
    // pigeonhole, so candidate generation cannot diverge. Capped at doc_id < 600
    // (like mm8) to keep the oracle's frame-pair join oracle-scale.
    "mm9_video_neardup" -> (((s: SparkSession, dir: String) => {
      val vids = Multimodal.attachTexturedVideoPayload(
        docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 600), "doc_id")
      Dedup.videoNearDup(Multimodal.videoFrameHashes(vids),
          bits = 64, maxHamming = 3, minMatchFrac = 0.5)
        .orderBy("id_a", "id_b")
    },
      Some("""WITH xs AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,5),(4,7),(5,8),(6,10),(7,12),(8,14)) t(x, sx)
             |), ys AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,4),(4,6),(5,7),(6,9),(7,10)) t(y, sy)
             |), vids AS (
             |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 4 END AS nf
             |  FROM documents WHERE doc_id < 600
             |), fr AS (
             |  SELECT v.doc_id, v.nf, t.f
             |  FROM vids v, (VALUES (0),(1),(2),(3)) t(f) WHERE t.f < v.nf
             |), px AS (
             |  SELECT fr.doc_id, fr.f, xs.x, ys.y,
             |    (('0x' || substr(md5((fr.doc_id % 101)::VARCHAR || '_' || fr.f::VARCHAR || '_' ||
             |        xs.sx::VARCHAR || '_' || ys.sy::VARCHAR), 1, 15))::BIGINT % 256
             |      + CASE WHEN fr.doc_id % 2 = 1 AND fr.f = fr.doc_id % fr.nf
             |             AND xs.sx = fr.doc_id % 16 AND ys.sy = fr.doc_id % 12 THEN 64 ELSE 0 END) % 256 AS v
             |  FROM fr, xs, ys
             |), sig AS (
             |  SELECT p1.doc_id, p1.f,
             |    sum(CASE WHEN p2.v <= p1.v THEN 0::BIGINT
             |        WHEN p1.y * 8 + p1.x = 63 THEN -9223372036854775807 - 1
             |        ELSE (1::BIGINT << (p1.y * 8 + p1.x)) END)::BIGINT AS dhash
             |  FROM px p1 JOIN px p2
             |    ON p2.doc_id = p1.doc_id AND p2.f = p1.f AND p2.y = p1.y AND p2.x = p1.x + 1
             |  WHERE p1.x < 8
             |  GROUP BY p1.doc_id, p1.f
             |), hs AS (
             |  SELECT DISTINCT doc_id, dhash FROM sig
             |), nn AS (
             |  SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id
             |), cand AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.dhash AS ha, b.dhash AS hb
             |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
             |), m AS (
             |  SELECT id_a, id_b, count(DISTINCT ha) AS m_a, count(DISTINCT hb) AS m_b
             |  FROM cand GROUP BY id_a, id_b
             |)
             |SELECT m.id_a, m.id_b, m.m_a, m.m_b, na.n AS n_a, nb.n AS n_b
             |FROM m JOIN nn na ON na.doc_id = m.id_a JOIN nn nb ON nb.doc_id = m.id_b
             |WHERE m.m_a * 1.0 / na.n >= 0.5 OR m.m_b * 1.0 / nb.n >= 0.5
             |ORDER BY id_a, id_b""".stripMargin))),

    // ---------------- event analytics ----------------

    "e1_sessionize" -> (((s: SparkSession, dir: String) => {
      events(s, dir).createOrReplaceTempView("events_raw")
      s.sql(
        """WITH e AS (
          |  SELECT user_id, event_id, timestamp_micros(ts div 1000) AS t FROM events_raw
          |), m AS (
          |  SELECT user_id, event_id, t,
          |    CASE WHEN lag(t) OVER w IS NULL
          |           OR t > lag(t) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
          |), se AS (
          |  SELECT user_id, t,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM m
          |)
          |SELECT user_id, cast(sid as int) AS session_id, count(*) AS n_events,
          |  unix_micros(max(t)) - unix_micros(min(t)) AS dur_us
          |FROM se GROUP BY user_id, sid
          |ORDER BY user_id, session_id""".stripMargin)
    },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, cast(ts as timestamp) AS t FROM events
             |), m AS (
             |  SELECT user_id, event_id, t,
             |    CASE WHEN lag(t) OVER w IS NULL
             |           OR t > lag(t) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
             |), se AS (
             |  SELECT user_id, t,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m
             |)
             |SELECT user_id, cast(sid as int) AS session_id, count(*) AS n_events,
             |  epoch_us(max(t)) - epoch_us(min(t)) AS dur_us
             |FROM se GROUP BY user_id, sid
             |ORDER BY user_id, session_id""".stripMargin))),

    "e2_hourly_rollup" -> (((s: SparkSession, dir: String) => {
      events(s, dir).createOrReplaceTempView("events_raw")
      s.sql(
        """SELECT date_format(date_trunc('hour', timestamp_micros(ts div 1000)), 'yyyy-MM-dd HH') AS hr,
          |  event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
          |  cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
          |FROM events_raw
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    },
      Some("""SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H') AS hr,
             |  event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
             |  cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
             |FROM events
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    // Native session_window operator in batch mode (the streaming sessionizer of
    // graft.streaming.EventStreams runs the same plan incrementally); the oracle is
    // the classic gaps-and-islands rewrite. session end = last event + gap.
    "e3_session_window" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      events(s, dir)
        .select(expr("timestamp_micros(ts div 1000)").alias("t"), col("user_id"))
        .groupBy(session_window(col("t"), "30 minutes").alias("s"), col("user_id"))
        .agg(count(lit(1)).alias("n_events"))
        // timestamp_ntz: the driver's oracle (DuckDB) emits naive TIMESTAMP; a raw
        // tz-aware TimestampType fails its schema check even when values match.
        .select(col("user_id"),
          col("s.start").cast("timestamp_ntz").alias("session_start"),
          col("s.end").cast("timestamp_ntz").alias("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
      Some("""WITH e AS (
             |  SELECT user_id, cast(ts as timestamp) AS t FROM events
             |), m AS (
             |  SELECT user_id, t,
             |    -- >= : session_window is half-open [start, start+gap), so an event
             |    -- exactly gap after its predecessor starts a NEW session
             |    CASE WHEN lag(t) OVER w IS NULL
             |           OR t >= lag(t) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
             |), se AS (
             |  SELECT user_id, t,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m
             |)
             |SELECT user_id, min(t) AS session_start,
             |  max(t) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
             |FROM se GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin))),

    // Ordered funnel view -> click -> purchase: per-user earliest strictly-increasing
    // step times; partial funnels kept via left joins.
    "e4_funnel" -> (((s: SparkSession, dir: String) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("timestamp_micros(ts div 1000)").alias("t"),
          col("event_type"))
      EventOps.funnel(e, Seq("view", "click", "purchase"))
        // naive timestamps for the oracle's schema check (see e3_session_window)
        .select(col("user_id"), col("t1").cast("timestamp_ntz").alias("t1"),
          col("t2").cast("timestamp_ntz").alias("t2"),
          col("t3").cast("timestamp_ntz").alias("t3"))
        .orderBy("user_id")
    },
      Some("""WITH e AS (
             |  SELECT user_id, cast(ts as timestamp) AS t, event_type FROM events
             |), s1 AS (
             |  SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
             |), s2 AS (
             |  SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
             |  WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id
             |), s3 AS (
             |  SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
             |  WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id
             |)
             |SELECT s1.user_id, t1, t2, t3
             |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
             |ORDER BY user_id""".stripMargin))),

    // Weekly cohort retention: cohort = first-activity week, users counted per
    // (cohort, day-offset-of-active-week).
    "e5_retention" -> (((s: SparkSession, dir: String) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("timestamp_micros(ts div 1000)").alias("t"))
      EventOps.retention(e, "week")
        .select(col("cohort").cast("date").alias("cohort"),
          col("offset_days").cast("int").alias("offset_days"), col("users"))
        .orderBy("cohort", "offset_days")
    },
      Some("""WITH e AS (
             |  SELECT user_id, cast(ts as timestamp) AS t FROM events
             |), c AS (
             |  SELECT user_id, date_trunc('week', min(t)) AS cohort FROM e GROUP BY user_id
             |), a AS (
             |  SELECT DISTINCT user_id, date_trunc('week', t) AS p FROM e
             |)
             |SELECT cast(cohort as date) AS cohort,
             |  cast(date_diff('day', cohort, p) as int) AS offset_days,
             |  count(DISTINCT a.user_id) AS users
             |FROM a JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort, offset_days""".stripMargin))),

    // As-of join (purchase attribution): each purchase matched to the latest click
    // at-or-before it by the same user — EventOps.asofJoin's union+window scan vs
    // DuckDB's NATIVE ASOF JOIN, the cross-engine parity check for the operator
    // Spark lacks. Clicks are pre-collapsed to one row per (user, instant) with
    // arg_max-by-event_id in BOTH engines, so the as-of match is unique by
    // construction, not by fixture luck.
    // Timestamps are compared at µs (ts div 1000 / epoch_us): events() normalizes
    // ts to epoch ns from either fixture shape, and µs is the exact precision BOTH
    // engines share (µs epochs also stay under 2^53, surviving pandas' float64).
    "e6_asof_join" -> (((s: SparkSession, dir: String) => {
      val e = events(s, dir).withColumn("ts", expr("ts div 1000"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(expr("max_by(value, event_id)").alias("value"),
          max(col("event_id")).alias("click_id"))
      EventOps.asofJoin(p, c, Seq("user_id"), "ts", "ts", Seq("value"), "click_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_value"), col("asof_ts"))
        .orderBy("event_id")
    },
      Some("""WITH p AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts FROM events
             |  WHERE event_type = 'purchase'
             |), c AS (
             |  SELECT user_id, epoch_us(ts) AS ts, arg_max(value, event_id) AS value
             |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
             |)
             |SELECT p.event_id, p.user_id, p.ts,
             |  c.value AS asof_value, c.ts AS asof_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin))),

    // Range (interval) join: clicks within +-1 hour of each error by the same
    // user — EventOps.rangeJoin's binned equi-join (bounded 2x left expansion, no
    // per-key nested loop) vs DuckDB's raw inequality join. Float sums ride a
    // decimal cast so the aggregation order can't perturb the hash.
    "e7_range_join" -> (((s: SparkSession, dir: String) => {
      val e = events(s, dir).withColumn("ts", expr("ts div 1000")) // µs, see e6
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val win = 3600L * 1000000L // 1 hour in µs
      EventOps.rangeJoin(err, clk, Seq("user_id"), "ts", "ts", -win, win)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).alias("n_clicks"),
          sum(col("r_value").cast("decimal(18,6)")).cast("double").alias("sum_value"))
        .orderBy("event_id")
    },
      Some("""WITH err AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts FROM events
             |  WHERE event_type = 'error'
             |), clk AS (
             |  SELECT user_id, epoch_us(ts) AS ts, value FROM events
             |  WHERE event_type = 'click'
             |)
             |SELECT e.event_id, count(*) AS n_clicks,
             |  cast(sum(cast(c.value as decimal(18,6))) as double) AS sum_value
             |FROM err e JOIN clk c ON e.user_id = c.user_id
             |  AND c.ts BETWEEN e.ts - 3600000000 AND e.ts + 3600000000
             |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // Curriculum schedule: word-count difficulty binned at the corpus quartiles,
    // deterministic md5 schedule key for within-stage mixing. Sorting the output by
    // (bin, sched, doc_id) IS the easy-to-hard training order; bin and key are
    // map-computed (no ntile window — see Curation.curriculum).
    "t13_curriculum" -> (((s: SparkSession, dir: String) => {
      val staged = docs(s, dir).select(col("doc_id"),
        array_size(Dedup.wordsArray(col("text"))).alias("n_words"))
      Curation.curriculum(staged, col("n_words"), "doc_id", Seq(32, 56, 76))
        .select(col("doc_id"), col("n_words"), col("bin"), col("sched"))
        .orderBy("bin", "sched", "doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), n AS (SELECT doc_id, cast(len(words) as int) AS n_words FROM w)
             |SELECT doc_id, n_words,
             |  (CASE WHEN n_words >= 32 THEN 1 ELSE 0 END
             |   + CASE WHEN n_words >= 56 THEN 1 ELSE 0 END
             |   + CASE WHEN n_words >= 76 THEN 1 ELSE 0 END) AS bin,
             |  ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT AS sched
             |FROM n ORDER BY bin, sched, doc_id""".stripMargin))),

    // Embedding-level decontamination: drop corpus vectors within cosine 0.9 of any
    // benchmark vector (benchmark = every 20th id, so planted overlap is exact and
    // always LSH-reachable; natural >=0.9 neighbors ride the same banding recall the
    // d6 oracle already verifies). The benchmark bucket table broadcasts; the corpus
    // never shuffles before the id-only anti join (plan-asserted).
    "p8_embed_decontam" -> (((s: SparkSession, dir: String) => {
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val bench = e.filter(col("vec_id") % 20 === 0)
      Curation.decontaminateByEmbedding(e, bench, threshold = 0.9, dim = 64, planes = 8)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },
      Some("""SELECT c.vec_id FROM embeddings c
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM embeddings b
             |  WHERE b.vec_id % 20 = 0
             |    AND list_cosine_similarity(c.embedding, b.embedding) >= 0.9)
             |ORDER BY vec_id""".stripMargin))),

    // Canonical-document selection per near-dup cluster: the longest member wins,
    // ties to the lowest id — the "keep best, not first" cluster collapse real
    // pipelines run after connected components. Oracle rebuilds the clusters via
    // the recursive closure (d9's) and the same argmax relationally.
    "p9_cluster_canonical" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashNearDup(d, "text", "doc_id",
        n = 3, k = 32, bands = 16, threshold = 0.7).select(col("id_a"), col("id_b"))
      val cc = Curation.connectedComponents(pairs)
      // deliberately tokenize BEFORE the join (r16 adjudication): the pre-join
      // projection collapses text to one int map-side, so the join shuffles
      // ids+ints only. Deferring the word split past the join would tokenize
      // member docs only — a win at bench scale where docs broadcast — but at
      // corpus scale the join would shuffle TEXT bytes (guide §2.3), trading a
      // linear map-side pass for a payload shuffle. Left as the scale-correct
      // shape.
      val words = d.select(col("doc_id").alias("id"),
        array_size(Dedup.wordsArray(col("text"))).alias("n_words"))
      val m = cc.join(words, "id")
      val best = m.groupBy(col("component"))
        .agg(max(col("n_words")).alias("bw"), count(lit(1)).alias("n_members"))
      m.join(best, "component").filter(col("n_words") === col("bw"))
        .groupBy(col("component"))
        .agg(min(col("id")).alias("canonical_id"),
          min(col("bw")).alias("canon_words"),
          min(col("n_members")).alias("n_members"))
        .orderBy("component")
    },
      Some(s"""${duckShingleSets.replaceFirst("WITH", "WITH RECURSIVE")}, p AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM g a, g b
              |  WHERE a.doc_id < b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), e AS (
              |  SELECT id_a AS u, id_b AS v FROM p
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM p
              |), reach(u, v) AS (
              |  SELECT u, v FROM e
              |  UNION
              |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
              |), cc AS (
              |  SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u
              |), m AS (
              |  SELECT cc.id, cc.component, cast(len(w.words) as int) AS n_words
              |  FROM cc JOIN w ON w.doc_id = cc.id
              |), b AS (
              |  SELECT component, max(n_words) AS bw, count(*) AS n_members
              |  FROM m GROUP BY component
              |)
              |SELECT m.component, min(m.id) AS canonical_id,
              |  cast(min(b.bw) as int) AS canon_words, min(b.n_members) AS n_members
              |FROM m JOIN b USING (component) WHERE m.n_words = b.bw
              |GROUP BY m.component ORDER BY component""".stripMargin))),

    // Leakage-safe train/val/test split: near-dup CLUSTERS (d9's components) are
    // the split unit, so a training doc's near-copy can never land in the eval
    // split (the Lee et al. 2022 C4 leakage failure). Bucketing is the RNG-free
    // md5 scheme of t6 applied to the component's canonical id: deterministic,
    // engine-reproducible, stable under corpus growth. Same LSH-recall assumption
    // as d9 (pinned by PipelineOracleSpec).
    "p12_leakage_split" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashNearDup(d, "text", "doc_id",
        n = 3, k = 32, bands = 16, threshold = 0.7).select(col("id_a"), col("id_b"))
      Curation.leakageSafeSplit(d, pairs, "doc_id")
        .orderBy("doc_id")
    },
      Some(s"""${duckShingleSets.replaceFirst("WITH", "WITH RECURSIVE")}, p AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM g a, g b
              |  WHERE a.doc_id < b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), e AS (
              |  SELECT id_a AS u, id_b AS v FROM p
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM p
              |), reach(u, v) AS (
              |  SELECT u, v FROM e
              |  UNION
              |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
              |), cc AS (
              |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
              |), ad AS (
              |  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component
              |  FROM documents d LEFT JOIN cc USING (doc_id)
              |), bk AS (
              |  SELECT doc_id, component,
              |    ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))::BIGINT % 10
              |      AS bucket
              |  FROM ad
              |)
              |SELECT doc_id, component,
              |  CASE WHEN bucket < 8 THEN 'train'
              |       WHEN bucket < 9 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM bk ORDER BY doc_id""".stripMargin))),

    // The incremental (sticky) split over a GROWING corpus: round 1 assigns the
    // even-id half, round 2 sees the full corpus — prior docs must keep their
    // round-1 splits (a trained-on doc can never become eval), odd-id newcomers
    // joining a prior cluster ADOPT its split via the min-id prior member, and
    // merges of differently-split prior clusters get flagged instead of silently
    // moving documents. The oracle replays both rounds: two recursive closures,
    // two md5-bucket assignments, min_by adoption. Same LSH-recall assumption as
    // d9/p12.
    "p13_leakage_split_incremental" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val evens = d.filter(col("doc_id") % 2 === 0)
      // ONE MinHash pass: round 1's even-wave pairs are EXACTLY the full-corpus
      // pairs with both ends even. Per-doc signatures don't depend on the rest of
      // the corpus, an LSH bucket restricted to the even docs holds exactly the
      // even members of the full-corpus bucket (bucketPairs has no size cap), and
      // the verify Jaccard is a per-pair computation — so
      // minHashNearDup(evens) ≡ minHashNearDup(d).filter(both even), which is
      // precisely how the oracle derives e1 from jp. The pair list is tiny;
      // persist it so both rounds consume one candidates+verify execution.
      val pairs2 = Dedup.minHashNearDup(d, "text", "doc_id",
        n = 3, k = 32, bands = 16, threshold = 0.7).select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs1 = pairs2.filter(col("id_a") % 2 === 0 && col("id_b") % 2 === 0)
      val prior = Curation.leakageSafeSplit(evens, pairs1, "doc_id")
        .select(col("doc_id"), col("split"))
      Curation.leakageSafeSplitIncremental(d, pairs2, "doc_id", prior)
        .orderBy("doc_id")
    }, {
      val bucket = (comp: String) =>
        s"('0x' || substr(md5(CAST($comp AS VARCHAR)), 1, 15))::BIGINT % 10"
      val split = (comp: String) =>
        s"""CASE WHEN ${bucket(comp)} < 8 THEN 'train'
           |       WHEN ${bucket(comp)} < 9 THEN 'val'
           |       ELSE 'test' END""".stripMargin
      Some(s"""${duckShingleSets.replaceFirst("WITH", "WITH RECURSIVE")}, jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM g a, g b
              |  WHERE a.doc_id < b.doc_id
              |    AND round(len(list_intersect(a.s, b.s)) * 1.0
              |      / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.7
              |), e1 AS (
              |  SELECT id_a AS u, id_b AS v FROM jp WHERE id_a % 2 = 0 AND id_b % 2 = 0
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM jp WHERE id_a % 2 = 0 AND id_b % 2 = 0
              |), reach1(u, v) AS (
              |  SELECT u, v FROM e1
              |  UNION
              |  SELECT r.u, e.v FROM reach1 r JOIN e1 e ON r.v = e.u
              |), cc1 AS (
              |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach1 GROUP BY u
              |), prior AS (
              |  SELECT d.doc_id, ${split("coalesce(c.component, d.doc_id)")} AS prior_split
              |  FROM documents d LEFT JOIN cc1 c USING (doc_id)
              |  WHERE d.doc_id % 2 = 0
              |), e2 AS (
              |  SELECT id_a AS u, id_b AS v FROM jp
              |  UNION ALL
              |  SELECT id_b AS u, id_a AS v FROM jp
              |), reach2(u, v) AS (
              |  SELECT u, v FROM e2
              |  UNION
              |  SELECT r.u, e.v FROM reach2 r JOIN e2 e ON r.v = e.u
              |), cc2 AS (
              |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach2 GROUP BY u
              |), fresh AS (
              |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
              |    ${split("coalesce(c.component, d.doc_id)")} AS fresh_split
              |  FROM documents d LEFT JOIN cc2 c USING (doc_id)
              |), anch AS (
              |  SELECT f.component, min_by(p.prior_split, f.doc_id) AS anchor_split,
              |    count(DISTINCT p.prior_split) > 1 AS prior_conflict
              |  FROM fresh f JOIN prior p USING (doc_id)
              |  GROUP BY f.component
              |)
              |SELECT f.doc_id, f.component,
              |  coalesce(p.prior_split, a.anchor_split, f.fresh_split) AS split,
              |  coalesce(a.prior_conflict, false) AS prior_conflict
              |FROM fresh f
              |LEFT JOIN prior p USING (doc_id)
              |LEFT JOIN anch a USING (component)
              |ORDER BY f.doc_id""".stripMargin)
    })),

    // Data-skipping read, proven through the driver gate: lay the event log out
    // in Z-order with a per-file min/max index, read it back through readPruned
    // with a box predicate, and aggregate — the result must equal DuckDB's
    // plain filtered aggregate over the raw table (pruning is conservative by
    // construction, so it can only be wrong by LOSING files; the hash compare
    // catches exactly that). ScaleLayoutSpec asserts the file-skip ratio; this
    // entry pins the semantics. Buckets are exact integer arithmetic (% 64) on
    // both engines, so no float boundary can disagree.
    "p14_pruned_box_scan" -> (((s: SparkSession, dir: String) => {
      import graft.operators.ScaleLayout
      val ev = events(s, dir)
      val base = ev.select(
        pmod(col("user_id"), lit(64L)).alias("ub"),
        pmod(expr("ts div 1000000000"), lit(64L)).alias("tb"),
        col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_p14_").toString
      ScaleLayout.writeIndexed(
        ScaleLayout.zorderLayout(base, Seq(col("ub"), col("tb")), files = 32, bits = 6),
        s"$tmp/t", Seq("ub", "tb"))
      val pruned = ScaleLayout
        .readPruned(s, s"$tmp/t", Map("ub" -> (16.0, 31.0), "tb" -> (16.0, 31.0)))
        .filter(col("ub").between(16, 31) && col("tb").between(16, 31))
        .groupBy("event_type")
        .agg(count(lit(1)).alias("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"))
        .orderBy("event_type")
      materializeAndClean(s, pruned, tmp)
    },
      Some("""SELECT event_type, count(*) AS n,
             |  cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
             |FROM events
             |WHERE (user_id % 64) BETWEEN 16 AND 31
             |  AND ((epoch_us(ts) // 1000000) % 64) BETWEEN 16 AND 31
             |GROUP BY event_type ORDER BY event_type""".stripMargin))),

    // EXACT BPE token counts under the pretrained merge table — the real greedy
    // merge algorithm (native codegen kernel), not the regex pre-tokenizer of t3.
    // The oracle replays the identical greedy encode in a recursive CTE: each word
    // is a '|'-delimited symbol string, each step applies the lowest-ranked
    // applicable merge at its leftmost occurrence, terminal states are the rows no
    // merge applies to. String-level replace is symbol-safe because '|' never
    // occurs inside a symbol, so every pattern match aligns with symbol bounds.
    "t14_bpe_tokens" -> (((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"),
          graft.functions.Bpe.pretrainedMerges).alias("n_bpe_exact"))
        .orderBy("doc_id"),
      Some(s"""$duckBpeEncode, fin AS (
              |  SELECT doc_id, length(s) - length(replace(s, '|', '')) - 1 AS n_tok
              |  FROM enc e
              |  WHERE NOT EXISTS (SELECT 1 FROM mg m WHERE strpos(e.s, m.pat) > 0)
              |)
              |SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS n_bpe_exact
              |FROM documents d LEFT JOIN
              |  (SELECT doc_id, sum(n_tok) AS n FROM fin GROUP BY doc_id) c
              |  USING (doc_id)
              |ORDER BY doc_id""".stripMargin))),

    // The tokenized text itself: every terminal symbol string, word order preserved,
    // space-joined — compared byte-for-byte against the oracle's replay of the same
    // greedy encode (t14 checks the count; this checks the actual token sequence).
    "t15_bpe_encode" -> (((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeTokens(col("text"),
          graft.functions.Bpe.pretrainedMerges).alias("bpe_text"))
        .orderBy("doc_id"),
      Some(s"""$duckBpeEncode, fin AS (
              |  SELECT doc_id, i, trim(replace(s, '|', ' ')) AS toks
              |  FROM enc e
              |  WHERE NOT EXISTS (SELECT 1 FROM mg m WHERE strpos(e.s, m.pat) > 0)
              |)
              |SELECT d.doc_id, coalesce(c.t, '') AS bpe_text
              |FROM documents d LEFT JOIN
              |  (SELECT doc_id, string_agg(toks, ' ' ORDER BY i) AS t
              |   FROM fin GROUP BY doc_id) c
              |  USING (doc_id)
              |ORDER BY doc_id""".stripMargin))),

    // Corpus-sink shard manifest: token-budgeted (bucket, pack) shard assignment via
    // the packSequences rule, collapsed to the per-shard accounting artifact a
    // training job resumes from. The oracle rebuilds the same bucketed running sum
    // and aggregation; sums are cast to BIGINT (DuckDB sum(BIGINT) is HUGEINT).
    "w1_shard_manifest" -> (((s: SparkSession, dir: String) =>
      graft.sinks.CorpusSink.shardManifest(
        graft.sinks.CorpusSink.assignShards(
          docs(s, dir), "text", "doc_id", budget = 256, buckets = 8),
        "doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, cast(len(words) as bigint) AS nt,
             |    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT % 8 AS bucket
             |  FROM w
             |), p AS (
             |  SELECT doc_id, bucket, nt,
             |    sum(nt) OVER (PARTITION BY bucket ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS st
             |  FROM t
             |)
             |SELECT bucket, cast(floor(st / 256.0) as bigint) AS pack_ix,
             |  count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM p GROUP BY bucket, pack_ix
             |ORDER BY bucket, pack_ix""".stripMargin))),

    // Streaming shard sink equivalence: the SAME corpus fed through
    // StreamingCorpusSink in TWO micro-batches (even ids, then odd) must produce a
    // manifest whose batch-2 pack numbering continues per-bucket after batch 1's —
    // the oracle replays per-batch packSequences packing plus the forward-carried
    // offsets. MemoryStream feeding is driver-side by necessity (the test harness,
    // not the operator); the doc_id cap bounds it at every scale factor.
    "w2_stream_manifest" -> (((s: SparkSession, dir: String) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 600)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val tmp = java.nio.file.Files.createTempDirectory("graft_w2_").toString
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingCorpusSink.shardSinkStream(
        src.toDF().toDF("doc_id", "text"), s"$tmp/data", s"$tmp/manifest",
        s"$tmp/ckpt", budget = 256, buckets = 8)
      try {
        src.addData(d.filter(_._1 % 2 == 0): _*)
        q.processAllAvailable()
        src.addData(d.filter(_._1 % 2 == 1): _*)
        q.processAllAvailable()
      } finally q.stop()
      materializeAndClean(s, s.read.parquet(s"$tmp/manifest")
        .select(col("bucket"), col("pack_ix"), col("n_docs"), col("n_tokens"),
          col("min_id"), col("max_id"))
        .orderBy("bucket", "pack_ix"), tmp)
    },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents WHERE doc_id < 600
             |), t AS (
             |  SELECT doc_id, cast(len(words) as bigint) AS nt,
             |    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT % 8 AS bucket
             |  FROM w
             |), p1 AS (
             |  SELECT doc_id, bucket, nt,
             |    sum(nt) OVER (PARTITION BY bucket ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS st
             |  FROM t WHERE doc_id % 2 = 0
             |), m1 AS (
             |  SELECT bucket, cast(floor(st / 256.0) as bigint) AS pack_ix,
             |    count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
             |    min(doc_id) AS min_id, max(doc_id) AS max_id
             |  FROM p1 GROUP BY bucket, pack_ix
             |), off AS (
             |  SELECT bucket, max(pack_ix) + 1 AS o FROM m1 GROUP BY bucket
             |), p2 AS (
             |  SELECT doc_id, bucket, nt,
             |    sum(nt) OVER (PARTITION BY bucket ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS st
             |  FROM t WHERE doc_id % 2 = 1
             |), m2 AS (
             |  SELECT m.bucket, m.pack_ix + coalesce(o.o, 0) AS pack_ix,
             |    m.n_docs, m.n_tokens, m.min_id, m.max_id
             |  FROM (
             |    SELECT bucket, cast(floor(st / 256.0) as bigint) AS pack_ix,
             |      count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
             |      min(doc_id) AS min_id, max(doc_id) AS max_id
             |    FROM p2 GROUP BY bucket, pack_ix) m
             |  LEFT JOIN off o USING (bucket)
             |)
             |SELECT * FROM m1 UNION ALL SELECT * FROM m2
             |ORDER BY bucket, pack_ix""".stripMargin))),

    // Streaming media near-dup equivalence: textured PNGs (the mm6 payloads) fed
    // through mediaNearDupStream in TWO batches (even ids seed the index, odd ids
    // dedup against it and themselves). The oracle rebuilds every dHash
    // arithmetically (see mm6) and replays the online arrival rule: a row survives
    // unless within hamming 3 of a BATCH-1 SURVIVOR (the index) or a lower-id row
    // of its own batch.
    "mm8_stream_media_dedup" -> (((s: SparkSession, dir: String) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ids = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 600)
        .as[Long].collect().sorted.toSeq
      val tmp = java.nio.file.Files.createTempDirectory("graft_mm8_").toString
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val media = Multimodal.attachTexturedImagePayload(
        src.toDF().withColumnRenamed("value", "doc_id"), "doc_id")
      val q = graft.streaming.EventStreams.mediaNearDupStream(
        media, s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
      try {
        src.addData(ids.filter(_ % 2 == 0): _*)
        q.processAllAvailable()
        src.addData(ids.filter(_ % 2 == 1): _*)
        q.processAllAvailable()
      } finally q.stop()
      materializeAndClean(s,
        s.read.parquet(s"$tmp/out").select(col("doc_id")).orderBy("doc_id"), tmp)
    },
      Some("""WITH xs AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,5),(4,7),(5,8),(6,10),(7,12),(8,14)) t(x, sx)
             |), ys AS (
             |  SELECT * FROM (VALUES (0,0),(1,1),(2,3),(3,4),(4,6),(5,7),(6,9),(7,10)) t(y, sy)
             |), px AS (
             |  SELECT d.doc_id, xs.x, ys.y,
             |    (('0x' || substr(md5((d.doc_id % 101)::VARCHAR || '_' ||
             |        xs.sx::VARCHAR || '_' || ys.sy::VARCHAR), 1, 15))::BIGINT % 256
             |      + CASE WHEN d.doc_id % 2 = 1 AND xs.sx = d.doc_id % 16
             |             AND ys.sy = d.doc_id % 12 THEN 64 ELSE 0 END) % 256 AS v
             |  FROM documents d, xs, ys WHERE d.doc_id < 600
             |), sig AS (
             |  SELECT p1.doc_id,
             |    sum(CASE WHEN p2.v <= p1.v THEN 0::BIGINT
             |        WHEN p1.y * 8 + p1.x = 63 THEN -9223372036854775807 - 1
             |        ELSE (1::BIGINT << (p1.y * 8 + p1.x)) END)::BIGINT AS dhash
             |  FROM px p1 JOIN px p2
             |    ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
             |  WHERE p1.x < 8
             |  GROUP BY p1.doc_id
             |), b1 AS (
             |  SELECT doc_id, dhash FROM sig WHERE doc_id % 2 = 0
             |), s1 AS (
             |  SELECT a.doc_id, a.dhash FROM b1 a WHERE NOT EXISTS (
             |    SELECT 1 FROM b1 b WHERE b.doc_id < a.doc_id
             |      AND bit_count(xor(a.dhash, b.dhash)) <= 3)
             |), b2 AS (
             |  SELECT doc_id, dhash FROM sig WHERE doc_id % 2 = 1
             |), s2 AS (
             |  SELECT a.doc_id FROM b2 a
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM s1 i WHERE bit_count(xor(a.dhash, i.dhash)) <= 3)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM b2 b WHERE b.doc_id < a.doc_id
             |      AND bit_count(xor(a.dhash, b.dhash)) <= 3)
             |)
             |SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
             |ORDER BY doc_id""".stripMargin))),

    // CCNet-style seed-LM surprisal: bigram + unigram-context count tables trained
    // on the seed split (every 10th doc), every other doc scored by total quantized
    // Laplace-smoothed conditional surprisal qlog2(V+c_ctx) − qlog2(1+c_gram).
    // Integer log2 (length(bin(x))−1) keeps every arithmetic step exact in both
    // engines — the reason the scores hash-match where float ln-perplexity could not.
    "t16_lm_surprisal" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Curation.seedLmSurprisal(
          d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", n = 2, buckets = 1 << 20)
        .select(col("id").alias("doc_id"), col("n_grams"), col("surprisal_q"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), '\s+'),
             |    x -> len(x) > 0) AS words
             |  FROM documents
             |), sx AS (
             |  SELECT doc_id, unnest(generate_series(1, len(words))) AS i, words
             |  FROM w WHERE doc_id % 10 = 0
             |), sn AS (
             |  SELECT ('0x' || substr(md5(words[i] || ' ' || words[i+1]), 1, 15))::BIGINT
             |      % 1048576 AS b, count(*) AS cn
             |  FROM sx WHERE i < len(words) GROUP BY b
             |), sc AS (
             |  SELECT ('0x' || substr(md5(words[i]), 1, 15))::BIGINT
             |      % 1048576 AS b, count(*) AS cc
             |  FROM sx GROUP BY b
             |), cg AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(words[i] || ' ' || words[i+1]), 1, 15))::BIGINT
             |      % 1048576 AS bn,
             |    ('0x' || substr(md5(words[i]), 1, 15))::BIGINT % 1048576 AS bc
             |  FROM (SELECT doc_id, unnest(generate_series(1, len(words) - 1)) AS i, words
             |        FROM w WHERE doc_id % 10 != 0)
             |)
             |, sco AS (
             |  SELECT doc_id, count(*) AS n_grams,
             |    sum((length(bin(1048576 + coalesce(sc.cc, 0))) - 1)
             |      - (length(bin(1 + coalesce(sn.cn, 0))) - 1))::BIGINT AS surprisal_q
             |  FROM cg LEFT JOIN sn ON cg.bn = sn.b LEFT JOIN sc ON cg.bc = sc.b
             |  GROUP BY doc_id
             |)
             |SELECT d.doc_id, coalesce(sco.n_grams, 0) AS n_grams,
             |  coalesce(sco.surprisal_q, 0) AS surprisal_q
             |FROM documents d LEFT JOIN sco USING (doc_id)
             |WHERE d.doc_id % 10 != 0 ORDER BY doc_id""".stripMargin))),

    // C4-style heuristic line filtering (Raffel et al. 2020 §2.2): documents are
    // re-lined (period + newline every 8 words) and every doc gets junk lines that
    // each trip ONE rule — no terminal punct ("click here"), the javascript filter,
    // too few words ("tiny.", "all rights reserved.") — plus one well-formed footer
    // line that must SURVIVE. Every 50th doc gains placeholder "lorem ipsum" text
    // and every 70th a code fragment with '{'; both doc-level rules drop the whole
    // document. The oracle replays line splitting, the per-line predicate, and the
    // doc gates verbatim.
    "t17_c4_filter" -> (((s: SparkSession, dir: String) => {
      val lined = docs(s, dir).select(col("doc_id"), concat(
        regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1.\n"), lit("."),
        lit("\nclick here\nplease enable javascript to continue.\ntiny.\n" +
          "all rights reserved.\nplease subscribe to our newsletter today."),
        when(col("doc_id") % 50 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 70 === 0, lit("\nfunction f() { return 1; }"))
          .otherwise(lit(""))).alias("text"))
      TextAnalysis.c4LineFilter(lined, "text", "doc_id")
        // bigint projections: DuckDB's len() is int64 where Spark's size()
        // is int32 — the driver's typed compare demands exact width
        .select(col("id").alias("doc_id"), col("n_lines").cast("long"),
          col("n_kept").cast("long"), col("cleaned"))
        .orderBy("doc_id")
    },
      Some("""WITH lined AS (
             |  SELECT doc_id,
             |    regexp_replace(text, '((\S+ ){7}\S+) ', '\1.' || chr(10), 'g') || '.'
             |    || chr(10) || 'click here'
             |    || chr(10) || 'please enable javascript to continue.'
             |    || chr(10) || 'tiny.'
             |    || chr(10) || 'all rights reserved.'
             |    || chr(10) || 'please subscribe to our newsletter today.'
             |    || CASE WHEN doc_id % 50 = 0
             |         THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
             |    || CASE WHEN doc_id % 70 = 0
             |         THEN chr(10) || 'function f() { return 1; }' ELSE '' END AS text
             |  FROM documents
             |), ls AS (
             |  SELECT doc_id, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
             |  FROM lined
             |  WHERE NOT contains(lower(text), 'lorem ipsum')
             |    AND NOT contains(lower(text), '{')
             |), kept AS (
             |  SELECT doc_id, len(lines) AS n_lines,
             |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
             |      AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5
             |      AND NOT contains(lower(l), 'javascript')) AS ks
             |  FROM ls
             |)
             |SELECT doc_id, n_lines, len(ks) AS n_kept,
             |  array_to_string(ks, chr(10)) AS cleaned
             |FROM kept WHERE len(ks) >= 3 ORDER BY doc_id""".stripMargin))),

    // HTML → text extraction: every document is wrapped in a deterministic page
    // (title, style block with '{', a script whose body contains '<', '{' and
    // quotes, a comment, and a footer using all six decoded entities), then
    // stripped back to text. Script/style removal must run BEFORE tag stripping —
    // the '<' inside the script would desynchronize a naive tag regex — and the
    // entity chain decodes &amp; LAST so '&amp;lt;' yields literal '&lt;'. Both
    // engines run the same RE2∩Java regex subset, so the extraction hash-matches.
    "t18_html_extract" -> (((s: SparkSession, dir: String) => {
      val page = docs(s, dir).select(col("doc_id"), concat(
        lit("<html><head><title>Doc</title><style>p { color: red; }</style>"),
        lit("<script type=\"text/javascript\">if (a < b) { alert(\"x&y\"); }</script></head>"),
        lit("<body><!-- header --><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><br/><div class=\"footer\">Tom &amp; Jerry &lt;info&gt; " +
          "&quot;quoted&quot; &#39;s &nbsp;end</div></body></html>")).alias("html"))
      page.select(col("doc_id"),
          TextAnalysis.htmlToText(col("html")).alias("content"))
        // bigint length: DuckDB strlen/len is int64 where Spark length() is
        // int32 — exact-width parity for the driver's typed compare
        .withColumn("content_len", length(col("content")).cast("long"))
        .orderBy("doc_id")
    },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    '<html><head><title>Doc</title><style>p { color: red; }</style>'
             |    || '<script type="text/javascript">if (a < b) { alert("x&y"); }</script></head>'
             |    || '<body><!-- header --><h1>Doc ' || doc_id || '</h1><p>' || text
             |    || '</p><br/><div class="footer">Tom &amp; Jerry &lt;info&gt; '
             |    || '&quot;quoted&quot; &#39;s &nbsp;end</div></body></html>' AS html
             |  FROM documents
             |), x AS (
             |  SELECT doc_id,
             |    trim(regexp_replace(
             |      replace(replace(replace(replace(replace(replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(html,
             |              '(?is)<(?:script|style)\b[^>]*>.*?</(?:script|style)>', ' ', 'g'),
             |            '(?s)<!--.*?-->', ' ', 'g'),
             |          '(?s)<[^>]*>', ' ', 'g'),
             |        '&nbsp;', ' '), '&#39;', ''''), '&quot;', '"'),
             |        '&gt;', '>'), '&lt;', '<'), '&amp;', '&'),
             |      '\s+', ' ', 'g')) AS content
             |  FROM h
             |)
             |SELECT doc_id, content, length(content) AS content_len
             |FROM x ORDER BY doc_id""".stripMargin))),

    // Temperature-scaled domain rebalancing (α = 0.5): even doc_ids are collapsed
    // into one oversized 'head' domain, which the inverse-sqrt rate downsamples to
    // ~32% while the 25× smaller tail domains cap at rate 1.0 and survive whole —
    // the flatten-the-head mix shape. sqrt is IEEE exactly-rounded in both engines,
    // so the rate boundary (and thus the md5-threshold sample) hash-matches.
    "p10_temperature_mix" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("head")).otherwise(col("source"))
          .alias("domain"))
      Curation.temperatureMix(d, "domain", "doc_id", scale = 5.0)
        .select(col("doc_id"), col("domain"))
        .orderBy("doc_id")
    },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN 'head' ELSE source END AS domain
             |  FROM documents
             |), c AS (
             |  SELECT domain, count(*) AS n FROM d GROUP BY domain
             |)
             |SELECT doc_id, domain FROM d JOIN c USING (domain)
             |WHERE (('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT
             |        % 1000000)::DOUBLE / 1000000.0
             |  < least(1.0, 5.0 / sqrt(n::DOUBLE))
             |ORDER BY doc_id""".stripMargin))),

    // Token-budget mixing with epoch upsampling (DoReMi-static / Dolma mixing
    // table shape): weight w_d = 1 + (src# % 4) per domain, 40k-token budget →
    // per-domain rate (budget·w_d/Σw)/tokens_d; rates above 1 REPEAT the domain
    // (epochs 0..⌊rate⌋−1 + an md5(id:epoch)-thresholded fractional epoch), the
    // upsampling half that p5/p10 (sample-down only) don't cover. Weights are
    // integer-valued doubles, so Σw and every rate are exact in both engines;
    // the fixture's rates span ~0.6–2.4 so all three branches (fractional-only,
    // 1+frac, 2+frac) are exercised.
    "p17_token_budget_mix" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).alias("toks"))
      val weights = d.select(col("source")).distinct()
        .withColumn("w",
          (lit(1) + substring(col("source"), 4, 10).cast("int") % 4).cast("double"))
      Curation.tokenBudgetMix(d, "source", "doc_id", "toks",
          weights, budget = 40000L)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, cast($duckTok as bigint) AS toks
              |  FROM documents
              |), w AS (
              |  SELECT source, (1 + cast(substr(source, 4, 10) as int) % 4)::DOUBLE AS w
              |  FROM (SELECT DISTINCT source FROM documents)
              |), tot AS (SELECT sum(w) AS tw FROM w
              |), r AS (
              |  SELECT d.source,
              |    least(8.0, ((40000.0 * any_value(w.w)) / any_value(tot.tw))
              |               / sum(d.toks)::DOUBLE) AS rate
              |  FROM d JOIN w USING (source), tot
              |  GROUP BY d.source
              |), ep AS (
              |  SELECT d.doc_id, d.source, r.rate, cast(floor(r.rate) as int) AS fe
              |  FROM d JOIN r ON d.source = r.source
              |)
              |SELECT doc_id, source, epoch FROM (
              |  SELECT doc_id, source, cast(unnest(range(0, fe)) as int) AS epoch FROM ep
              |  UNION ALL
              |  SELECT doc_id, source, fe AS epoch FROM ep
              |  WHERE (('0x' || substr(md5(cast(doc_id as varchar) || ':'
              |           || cast(fe as varchar)), 1, 15))::BIGINT
              |         % 1000000)::DOUBLE / 1000000.0 < rate - fe
              |) ORDER BY doc_id, epoch""".stripMargin))),

    // dataset-versioning audit: what changed between two corpus releases.
    // The gate runs the DIGEST path (the 100 TB shape: each side projected
    // map-side to (key, xxhash64) so the full-outer join shuffles ~16
    // bytes/row) against a value-compare DuckDB oracle — the paths can only
    // disagree on an xxhash64 collision
    "p18_snapshot_diff" -> (((s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val cur = d.where(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 101 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.where(col("doc_id") % 103 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      Curation.snapshotDiff(d, cur, "doc_id", Seq("text", "lang"))
        .orderBy("doc_id")
    },
      Some("""WITH o AS (SELECT doc_id, text, lang FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 101 = 0 THEN text || ' v2' ELSE text END AS text,
             |    lang
             |  FROM documents WHERE doc_id % 97 <> 0
             |  UNION ALL
             |  SELECT doc_id + 10000000, text, lang FROM documents
             |  WHERE doc_id % 103 = 0
             |)
             |SELECT doc_id, change FROM (
             |  SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN c.doc_id IS NULL THEN 'removed'
             |         WHEN (o.text IS DISTINCT FROM c.text)
             |           OR (o.lang IS DISTINCT FROM c.lang) THEN 'changed'
             |    END AS change
             |  FROM o FULL JOIN c ON o.doc_id = c.doc_id
             |) WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin)))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, (fn, _)) => n -> fn }.toMap
  def oracles: Map[String, String] =
    defs.flatMap { case (n, (_, o)) => o.map(n -> _) }.toMap
}
