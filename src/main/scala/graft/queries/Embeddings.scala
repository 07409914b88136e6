package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Similarity search over the embeddings table (vec_id, embedding FLOAT[64],
  * label) — the ANN operators an LLM-data pipeline needs for
  * embedding-cosine near-dup removal and retrieval.
  *
  * Two tiers, mirroring production practice:
  *   - q_embed_topk: brute-force top-k cosine against one query vector — the
  *     exact baseline. Linear scan, fully distributed, no shuffle until the
  *     final TakeOrderedAndProject (k rows to the driver).
  *   - q_embed_ann: LSH via random-hyperplane signatures → bucket self-join →
  *     within-bucket exact rerank. The scale path: candidate enumeration is
  *     keyed on the signature bucket, so cost is Σ bucket², never corpus².
  *     At 100 TB one widens the signature (16-24 bits) and unions several
  *     independent hash tables for recall; the plan shape is unchanged.
  *
  * Engine-portability: hyperplane components are deterministic ±1 constants
  * derived from md5 in driver Scala and baked as literals into BOTH the
  * Spark expression and the generated DuckDB oracle SQL, so the two engines
  * compute the identical algebra. Dot products fold left-to-right in double
  * precision on both sides; emitted similarities are rounded to 4 decimals
  * so any sub-ulp summation divergence cannot surface.
  *
  * Dot products route through the native `float_dot` codegen kernel
  * ([[graft.expressions.FloatDot]] — that file owns the summation-order and
  * null semantics the engine-parity argument rests on); the remaining folds
  * (bucket signatures) are Catalyst higher-order functions. Either way:
  * codegen'd, no UDFs, arrays never leave the executors.
  */
object Embeddings {
  private val Dims = 64

  /** Largest supported hyperplane count (2¹⁶ buckets ≈ 8.4M vectors at
    * the 128-occupancy target). Beyond that, multi-table LSH — several
    * independent plane sets, candidates = union of per-table buckets —
    * is the published scale path; one table's bucket count cannot grow
    * forever without starving recall. */
  private val MaxPlanes = 16

  /** ADAPTIVE hyperplane count (r11 — the scaling audit caught the fixed
    * P=4 going quadratic at 10×): smallest P ≥ 4 with 2^P · 128 ≥ corpus,
    * so expected bucket occupancy stays ≈ 128 and the bucket self-join's
    * candidate volume (Σ bucket²) stays LINEAR in the corpus. Pure
    * integer arithmetic (ceil-log2 via bit length) so the DuckDB replay
    * in [[bucketSql]] computes the identical P from the identical
    * count(*). P = 4 at every driver gate scale (N ≤ 2048), so gate
    * results are byte-stable. */
  private[graft] def numPlanes(n: Long): Int = {
    val x = (math.max(1L, n) + 127) / 128
    val bits = if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    math.min(MaxPlanes, math.max(4, bits.toInt))
  }

  /** Corpus size per dir — parquet-footer count, memoized via
    * [[Tables.memoCount]] (signature-keyed so ScaleGen regenerations
    * invalidate; count runs outside the lock — r11/r12 ADVICE). */
  private def corpusSize(s: SparkSession, dir: String): Long =
    Tables.memoCount(dir, "embeddings", "corpus_size") {
      Tables.embeddings(s, dir).count()
    }
  private def planesFor(s: SparkSession, dir: String): Int =
    numPlanes(corpusSize(s, dir))

  /** Deterministic ±1 hyperplane component: top bit of md5("plane:dim").
    * Engine-independent — evaluated once on the driver. */
  private def sign(plane: Int, dim: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    if ((d(0) & 0x80) != 0) 1 else -1
  }

  private val planes: Seq[Seq[Int]] =
    (0 until MaxPlanes).map(p => (0 until Dims).map(d => sign(p, d)))

  /** Left-to-right double-precision dot product of two float-array columns
    * — the native codegen kernel (graft.expressions.FloatDot), bit-identical
    * to the aggregate(zip_with(...)) HOF fold it replaced and to the
    * oracle's list_sum fold, but ~5× faster on the pair-wise rerank. */
  private def dot(a: String, b: String): Column =
    expr(s"float_dot(`$a`, `$b`)")

  private def sqNorm(a: String): Column =
    expr(s"float_dot(`$a`, `$a`)")

  /** THE pair-scoring expression — 4-dp-rounded cosine from precomputed
    * norms. Every ANN / near-dup / recall query scores candidate pairs
    * through this one definition so the rounding precision and evaluation
    * order (the engine-parity-critical parts) cannot drift between
    * siblings. */
  private def pairCos(e1: String, e2: String, n1: String, n2: String): Column =
    round(dot(e1, e2) / (col(n1) * col(n2)), 4)

  /** DuckDB mirror of [[dot]]/[[cosine]] (1-based list indexing, same
    * left-to-right fold via list_sum over the per-index products). */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dims + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Per-plane signed dot as the CODEGEN float_dot kernel: the ±1 integer
    * plane components are exactly representable in FLOAT, so
    * `float_dot(emb, CAST(plane AS ARRAY<FLOAT>))` — (double)x · (double)s
    * accumulated left-to-right — is bit-identical to the
    * aggregate(zip_with(...)) HOF fold it replaces (and to the oracle's
    * list_sum), while the HOF is CodegenFallback: interpreted lambda
    * pairs per ELEMENT. Found by the r14 scaling audit — a 79 MB
    * embeddings parquet maps to ONE input task, and np interpreted
    * 64-dim folds per row put 13+ minutes of single-thread eval on that
    * task where the codegen loop takes seconds. */
  private def planeDot(embCol: String, h: Seq[Int]): Column =
    expr(s"float_dot($embCol, cast(${h.mkString("array(", ", ", ")")}" +
      " as array<float>))")

  /** Signature bucket 0..2^P−1: bit p set iff hyperplane-p dot > 0; P is
    * the corpus-adaptive [[numPlanes]]. */
  private def bucketCol(embCol: String, np: Int): Column =
    planes.take(np).zipWithIndex.map { case (h, p) =>
      when(planeDot(embCol, h) > 0.0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** DuckDB mirror of [[bucketCol]], SELF-CONTAINED: the plane count is
    * recomputed from `count(*) FROM embeddings` with the same integer
    * ceil-log2 as [[numPlanes]] (bit length of x−1 via the binary format
    * — no float log2 anywhere), and the full 16-plane ±1 component table
    * rides inline as a literal list-of-lists (the same constants the
    * Spark side precomputed), so every oracle that embeds this string
    * stays replay-exact at ANY corpus size. */
  /** The adaptive plane count as a DuckDB scalar subquery — the exact
    * integer twin of [[numPlanes]] (bit length of x−1, no float log2). */
  private val npSql: String =
    s"""(SELECT least($MaxPlanes, greatest(4,
       |  CASE WHEN x <= 1 THEN 0
       |       ELSE length(format('{:b}', x - 1)) END))
       | FROM (SELECT ((SELECT count(*) FROM embeddings) + 127) // 128
       |       AS x))""".stripMargin

  /** The full 16-plane ±1 component table as a DuckDB literal
    * list-of-lists — the same constants the Spark side precomputed. */
  private val planesTableSql: String =
    planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** DuckDB plane-p dot product (p is a 0-based SQL expression) — the
    * same left-to-right double fold as [[bucketCol]]'s, so the VALUES
    * (not just the signs) are bit-identical across engines and can be
    * ordered (multi-probe's boundary-distance ranking). */
  private def planeDotSql(embCol: String, pExpr: String): String =
    s"""list_sum(list_transform(range(1, ${Dims + 1}), i ->
       |  CAST($embCol[i] AS DOUBLE) * (($planesTableSql)[($pExpr) + 1][i])))""".stripMargin

  private def bucketSql(embCol: String): String = {
    val np = npSql
    // CAST back to INT: list_sum would promote to HUGEINT, which the
    // gate's dtype lint rejects in final selects (r6 lesson)
    s"""CAST(list_sum(list_transform(range(0, $np), p ->
       |  CASE WHEN ${planeDotSql(embCol, "p")}
       |    > 0 THEN (1 << p) ELSE 0 END)) AS INT)""".stripMargin
  }

  // ------------------------------------------------------------ q_embed_topk
  /** Brute-force exact top-10 by cosine to the vec_id=0 embedding. The query
    * vector rides in as a broadcast 1-row crossJoin (a scalar, not a
    * cartesian risk); orderBy+limit executes as TakeOrderedAndProject —
    * per-partition top-k, k-row driver merge, no global sort at any scale. */
  def qEmbedTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        round(dot("embedding", "qv") /
          (sqrt(sqNorm("embedding")) * sqrt(sqNorm("qv"))), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val qEmbedTopkSql =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label,
       |  round(${dotSql("e.embedding", "q.qv")}
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qv", "q.qv")})), 4) AS cos_sim
       |FROM embeddings e CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------------- q_embed_ann
  /** Hyperplane-LSH ANN: signature-bucket every vector, then find each
    * vector's nearest neighbor WITHIN its bucket by exact cosine rerank.
    * The self-join is keyed on the bucket (never all-pairs); vectors alone
    * in their bucket drop out (at scale, multi-table LSH recovers them).
    * Ranking uses the rounded cosine + nn_id tiebreak so both engines rank
    * identically. */
  def qEmbedAnn(s: SparkSession, dir: String): DataFrame = {
    // norms precomputed once per vector BEFORE the self-join (n sqrt folds,
    // not 2×pairs) — the per-pair work is a single dot product. Identical
    // values to the oracle's per-pair norms: sqrt(Σx²) doesn't depend on
    // where it's evaluated.
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val l = emb.select(col("bucket"), col("vec_id"), col("embedding"), col("norm"))
    val r = emb.select(col("bucket"), col("vec_id").as("nn_id"),
      col("embedding").as("emb2"), col("norm").as("norm2"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        pairCos("embedding", "emb2", "norm", "norm2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bucket"), col("nn_id"), col("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val qEmbedAnnSql =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT l.vec_id, l.bucket, r.vec_id AS nn_id,
       |    round(${dotSql("l.embedding", "r.embedding")}
       |      / (sqrt(${dotSql("l.embedding", "l.embedding")})
       |         * sqrt(${dotSql("r.embedding", "r.embedding")})), 4) AS cos_sim
       |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id)
       |SELECT vec_id, bucket, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
       |  FROM pairs)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------- q_knn_classify
  /** Leave-one-out k-NN majority-vote classification accuracy per label —
    * the standard "are these labels learnable from the geometry" diagnostic
    * run before training on a labeled embedding set (complements
    * q_label_noise, which flags individual suspect rows; this scores the
    * label space wholesale).
    *
    * Candidates come from the SAME hyperplane buckets as q_embed_ann
    * (never all-pairs): each vector takes its top-k (k=5) in-bucket
    * neighbors by rounded cosine + id tiebreak, votes are counted per
    * neighbor label, and the majority label (ties → smallest label id)
    * is the prediction. Singleton-bucket vectors drop out, exactly like
    * q_embed_ann — at scale multi-table LSH recovers them. All windows
    * are per-vector (bucket-bounded); the accuracy rollup is an
    * O(labels) aggregate. */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val K = 5
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val l = emb.select(col("bucket"), col("vec_id"), col("label"),
      col("embedding"), col("norm"))
    val r = emb.select(col("bucket"), col("vec_id").as("nn_id"),
      col("label").as("nn_label"),
      col("embedding").as("emb2"), col("norm").as("norm2"))
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    val votes = l.join(r, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim", pairCos("embedding", "emb2", "norm", "norm2"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= K)
      .groupBy(col("vec_id"), col("label"), col("nn_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("vec_id"))
      .orderBy(col("n_votes").desc, col("nn_label"))
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("nn_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc",
        round(col("n_correct").cast("double") / col("n"), 4))
      .orderBy(col("label"))
  }

  private val qKnnClassifySql =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    ${bucketSql("embedding")} AS bucket,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT l.vec_id, l.label, r.label AS nn_label, r.vec_id AS nn_id,
       |    round(${dotSql("l.embedding", "r.embedding")}
       |      / (l.nrm * r.nrm), 4) AS cos_sim
       |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
       |    FROM pairs)
       |  WHERE rn <= 5),
       |votes AS (
       |  SELECT vec_id, label, nn_label, count(*) AS n_votes
       |  FROM topk GROUP BY vec_id, label, nn_label),
       |pred AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY n_votes DESC, nn_label) AS vr
       |    FROM votes)
       |  WHERE vr = 1)
       |SELECT label, count(*) AS n,
       |  CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  round(CAST(sum(CASE WHEN nn_label = label THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 4) AS acc
       |FROM pred GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------- q_embed_neardup
  /** Embedding-cosine near-duplicate detection — the vector-space dedup
    * mode (semantic dups that shingle/minhash miss). Candidates come from
    * the SAME hyperplane buckets as q_embed_ann (never all-pairs; exact
    * copies always collide in every hash table since signatures are equal),
    * then pairs at cosine ≥ 0.999 are flagged. The corpus manufactures
    * exact copies (vec_id+10000 for every 50th vector) as ground truth —
    * random unit vectors have no natural near-dups. Keep-min policy like
    * q_exact_dup. */
  def qEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val l = corpus.select(col("bucket"), col("vec_id").as("a"),
      col("embedding"), col("norm"))
    val r = corpus.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("emb2"), col("norm").as("norm2"))
    l.join(r, Seq("bucket"))
      .filter(col("a") < col("b"))
      .withColumn("cos_sim",
        pairCos("embedding", "emb2", "norm", "norm2"))
      .filter(col("cos_sim") >= 0.999)
      .select(col("a").as("keep_id"), col("b").as("dup_id"), col("cos_sim"))
      .orderBy(col("keep_id"), col("dup_id"))
  }

  private val qEmbedNeardupSql =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 50 = 0),
       |b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding")} AS bucket,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM corpus)
       |SELECT l.vec_id AS keep_id, r.vec_id AS dup_id,
       |  round(${dotSql("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 4)
       |    AS cos_sim
       |FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
       |WHERE round(${dotSql("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 4)
       |  >= 0.999
       |ORDER BY keep_id, dup_id""".stripMargin

  // ------------------------------------------------------------- q_embed_ivf
  /** IVF (inverted-file) ANN — the k-means-style alternative to hyperplane
    * LSH: a small set of coarse centroids partitions the corpus; search
    * probes only the nearest centroid's posting list. Centroids here are a
    * deterministic data sample (every (n/k)-th vector), standing in for
    * trained k-means means — the partition/probe algebra (the part that
    * matters at scale) is identical. Assignment is a broadcast of the k=17
    * centroids against the corpus (never corpus×corpus); each vector's
    * cell = argmax cosine, rank stabilized on the 4-decimal-rounded sim +
    * centroid id so both engines agree. Output: cell assignment + posting
    * list sizes — the IVF index statistics. */
  /** Coarse-centroid stride, CAPPED so the centroid list stays ≤ ~64
    * (r11 — the scaling audit caught the fixed `% 31` stride growing the
    * centroid count with the corpus, making the assign-every-vector-to-
    * every-centroid pass quadratic): stride = max(31, ⌈n/64⌉), identical
    * integer arithmetic to the oracle's scalar subquery. 31 at every
    * gate scale (n ≤ 1984), so gate results are byte-stable. Production
    * IVF grows nlist ~ √n with a centroid ROUTER (HNSW over centroids)
    * so assignment never scans all lists; the cap keeps the demonstrated
    * partition/probe algebra linear without modeling the router. */
  private def centroidStride(s: SparkSession, dir: String): Long =
    math.max(31L, (corpusSize(s, dir) + 63) / 64)
  private val strideSql =
    "(SELECT greatest(31, (count(*) + 63) // 64) FROM embeddings)"

  /** Every corpus vector ranked against the broadcast coarse-centroid
    * sample (`vec_id % stride`, ≤ ~64 centroids) by 4-dp-rounded cosine,
    * ties on centroid_id — THE IVF cell geometry, shared by the
    * index-statistics query ([[qEmbedIvf]], rn=1 cells) and the nprobe=2
    * search ([[qEmbedIvf2]], rn≤2 probes) so the search can never probe
    * a layout that disagrees with the reported index. Columns: vec_id,
    * embedding, norm, centroid_id, sim, rn. */
  private def centroidRanked(emb: DataFrame, stride: Long): DataFrame = {
    val cents = emb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    emb.crossJoin(broadcast(cents))
      .withColumn("norm", sqrt(sqNorm("embedding")))
      .withColumn("sim", round(dot("embedding", "cvec") /
        (col("norm") * sqrt(sqNorm("cvec"))), 4))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("centroid_id"))))
      .drop("cvec")
  }

  def qEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val assigned = centroidRanked(Tables.embeddings(s, dir), centroidStride(s, dir))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("sim").as("centroid_sim"))
    val cellSizes = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("cell_size"))
    assigned.join(cellSizes, Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), col("centroid_sim"), col("cell_size"))
      .orderBy(col("vec_id"))
  }

  private val qEmbedIvfSql =
    s"""WITH cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM embeddings WHERE vec_id % $strideSql = 0),
       |assigned AS (
       |  SELECT vec_id, centroid_id, sim AS centroid_sim FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      round(${dotSql("e.embedding", "c.cvec")}
       |        / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |           * sqrt(${dotSql("c.cvec", "c.cvec")})), 4) AS sim,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(${dotSql("e.embedding", "c.cvec")}
       |          / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |             * sqrt(${dotSql("c.cvec", "c.cvec")})), 4) DESC,
       |        c.centroid_id) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |cells AS (
       |  SELECT centroid_id, count(*) AS cell_size
       |  FROM assigned GROUP BY centroid_id)
       |SELECT a.vec_id, a.centroid_id, a.centroid_sim, c.cell_size
       |FROM assigned a JOIN cells c ON c.centroid_id = a.centroid_id
       |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------- q_embed_ivf2
  /** IVF SEARCH with nprobe=2 — the companion of [[qEmbedIvf]]'s index
    * statistics and the IVF twin of multi-probe LSH: each query probes its
    * TWO nearest coarse cells and exact-reranks the union of their posting
    * lists. nprobe is THE IVF recall/cost dial (a query near a cell
    * boundary has its true neighbor in the second cell about half the
    * time); cost scales linearly in probed posting-list volume and the
    * corpus-side assignment stays single-cell — the index is not
    * duplicated, only the query fans out. Centroid ranking and rerank
    * both stabilized on (rounded sim, id) so the engines agree exactly. */
  def qEmbedIvf2(s: SparkSession, dir: String): DataFrame = {
    val ranked = centroidRanked(Tables.embeddings(s, dir), centroidStride(s, dir))
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("centroid_id"), col("vec_id").as("nn_id"),
        col("embedding").as("emb2"), col("norm").as("norm2"))
    val probes = ranked.filter(col("rn") <= 2)
      .select(col("vec_id"), col("embedding"), col("norm"), col("centroid_id"))
    val pairs = probes.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        pairCos("embedding", "emb2", "norm", "norm2"))
    pairs.withColumn("rk", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").desc, col("nn_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("nn_id"), col("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val qEmbedIvf2Sql =
    s"""WITH cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM embeddings WHERE vec_id % $strideSql = 0),
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${dotSql("e.embedding", "c.cvec")}
       |        / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |           * sqrt(${dotSql("c.cvec", "c.cvec")})), 4) DESC,
       |      c.centroid_id) AS rn
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT centroid_id, vec_id AS nn_id, embedding AS emb2
       |  FROM ranked WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, embedding, centroid_id FROM ranked WHERE rn <= 2),
       |pairs AS (
       |  SELECT p.vec_id, a.nn_id,
       |    round(${dotSql("p.embedding", "a.emb2")}
       |      / (sqrt(${dotSql("p.embedding", "p.embedding")})
       |         * sqrt(${dotSql("a.emb2", "a.emb2")})), 4) AS cos_sim
       |  FROM probes p JOIN assigned a USING (centroid_id)
       |  WHERE p.vec_id <> a.nn_id)
       |SELECT vec_id, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rk
       |  FROM pairs)
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ q_semantic_dedup
  /** SemDeDup-style semantic deduplication: within each IVF cell, emit the
    * pairs whose cosine ≥ 0.99 — documents that say the same thing in
    * (embedding) space even when their text differs, which MinHash/SimHash
    * cannot see. `keep_id` = the smaller vec_id (the keep-first policy the
    * exact/fuzzy dedup family uses); transitive clusters resolve through
    * the same min-label propagation as q_dedup_clusters.
    *
    * Scale shape: candidate enumeration is WITHIN-CELL only (Σ cell², never
    * corpus²), on the exact cell geometry [[centroidRanked]] reports — in
    * production k grows with the corpus (k ≈ n/target_cell_size), keeping
    * cell size and per-cell pair cost constant as data scales; the norm is
    * computed once per vector before the self-join.
    *
    * The corpus manufactures semantic dups (vec_id+10000 copies of every
    * 50th vector, same fixture as q_embed_neardup — random vectors have no
    * natural ≥0.99 pairs); a copy always shares its original's cell since
    * it ranks the centroids identically, so within-cell enumeration finds
    * every planted pair — no recall loss from the cell partition for
    * true duplicates. */
  def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val cells = centroidRanked(corpus, centroidStride(s, dir))
      .filter(col("rn") === 1)
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("norm"))
    val l = cells.select(col("centroid_id"), col("vec_id").as("keep_id"),
      col("embedding").as("e1"), col("norm").as("n1"))
    val r = cells.select(col("centroid_id"), col("vec_id").as("drop_id"),
      col("embedding").as("e2"), col("norm").as("n2"))
    l.join(r, Seq("centroid_id"))
      .filter(col("keep_id") < col("drop_id"))
      .withColumn("cos_sim", pairCos("e1", "e2", "n1", "n2"))
      .filter(col("cos_sim") >= 0.99)
      .select(col("centroid_id"), col("keep_id"), col("drop_id"), col("cos_sim"))
      .orderBy(col("keep_id"), col("drop_id"))
  }

  private val qSemanticDedupSql =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 50 = 0),
       |cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM corpus WHERE vec_id % $strideSql = 0),
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(${dotSql("e.embedding", "c.cvec")}
       |        / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |           * sqrt(${dotSql("c.cvec", "c.cvec")})), 4) DESC,
       |      c.centroid_id) AS rn
       |  FROM corpus e CROSS JOIN cents c),
       |cells AS (
       |  SELECT centroid_id, vec_id, embedding FROM ranked WHERE rn = 1),
       |pairs AS (
       |  SELECT a.centroid_id, a.vec_id AS keep_id, b.vec_id AS drop_id,
       |    round(${dotSql("a.embedding", "b.embedding")}
       |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
       |         * sqrt(${dotSql("b.embedding", "b.embedding")})), 4) AS cos_sim
       |  FROM cells a JOIN cells b ON a.centroid_id = b.centroid_id
       |    AND a.vec_id < b.vec_id)
       |SELECT centroid_id, keep_id, drop_id, cos_sim
       |FROM pairs WHERE cos_sim >= 0.99
       |ORDER BY keep_id, drop_id""".stripMargin

  // --------------------------------------------------------- q_embed_buckets
  /** The bucket histogram — the skew diagnostic a production ANN job watches
    * (a hot bucket = a degenerate hyperplane set → re-salt or widen). */
  def qEmbedBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("bucket"))

  private val qEmbedBucketsSql =
    s"""SELECT ${bucketSql("embedding")} AS bucket,
       |  count(*) AS n_vecs, min(vec_id) AS min_vec_id
       |FROM embeddings
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ----------------------------------------------------------- q_ann_recall
  /** Recall@5 of the hyperplane-LSH path against exact brute force — the
    * acceptance test a pipeline runs BEFORE trusting the approximate path
    * at scale. Ground truth is computed for a 5% query sample only
    * (vec_id % 20 == 0): the sampled-eval cross is |Q| × corpus with the
    * small Q broadcast — the one place a deliberate cross product is the
    * algorithm (you cannot measure recall without the true answer), and
    * sampling keeps it |corpus|²/20 instead of |corpus|². The ANN side
    * reuses the same bucket join as q_embed_ann. Per query: hits = overlap
    * of the two top-5 sets (cos_sim rounded + vec_id tiebreak, so both
    * engines rank identically); low recall flags degenerate hyperplanes
    * before the full job runs. */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val K = 5
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("bucket").as("q_bucket"), col("norm").as("q_norm"))
    val corpus = emb.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb2"), col("bucket"), col("norm").as("norm2"))

    def top5(pairs: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("nn_id"))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
        .select(col("q_id"), col("nn_id"))
    }
    val scored = (df: DataFrame) => df
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        pairCos("qv", "emb2", "q_norm", "norm2"))

    val exact = top5(scored(corpus.crossJoin(broadcast(queries))))
    val ann = top5(scored(
      corpus.join(broadcast(queries), col("bucket") === col("q_bucket"))))

    exact.join(ann, Seq("q_id", "nn_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      .join(queries.select(col("q_id")), Seq("q_id"), "right")
      .na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("n_hits").cast("int").as("n_hits"),
        round(col("n_hits") / lit(K.toDouble), 2).as("recall_at_5"))
      .orderBy(col("q_id"))
  }

  private val qAnnRecallSql =
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
       |      FROM b WHERE vec_id % 20 = 0),
       |exact AS (
       |  SELECT q_id, nn_id FROM (
       |    SELECT q.q_id, c.vec_id AS nn_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(${dotSql("q.qv", "c.embedding")}
       |          / (sqrt(${dotSql("q.qv", "q.qv")})
       |             * sqrt(${dotSql("c.embedding", "c.embedding")})), 4) DESC,
       |        c.vec_id) AS rn
       |    FROM b c CROSS JOIN q WHERE c.vec_id <> q.q_id)
       |  WHERE rn <= 5),
       |ann AS (
       |  SELECT q_id, nn_id FROM (
       |    SELECT q.q_id, c.vec_id AS nn_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(${dotSql("q.qv", "c.embedding")}
       |          / (sqrt(${dotSql("q.qv", "q.qv")})
       |             * sqrt(${dotSql("c.embedding", "c.embedding")})), 4) DESC,
       |        c.vec_id) AS rn
       |    FROM b c JOIN q ON c.bucket = q.q_bucket WHERE c.vec_id <> q.q_id)
       |  WHERE rn <= 5)
       |SELECT q.q_id,
       |  CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
       |  round(COALESCE(h.n_hits, 0) / 5.0, 2) AS recall_at_5
       |FROM q
       |LEFT JOIN (
       |  SELECT e.q_id, count(*) AS n_hits
       |  FROM exact e JOIN ann a ON a.q_id = e.q_id AND a.nn_id = e.nn_id
       |  GROUP BY e.q_id) h ON h.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin

  // --------------------------------------------------------- q_embed_ann_mp
  /** Multi-probe LSH ANN: each QUERY vector probes its own bucket plus the
    * buckets at Hamming distance 1 for the planes it sits CLOSEST to
    * (smallest |dot| — the boundaries a near-miss most plausibly fell the
    * other side of: query-directed probing, Lv et al.). This is the
    * standard recall fix for single-table LSH (q_embed_ann drops vectors
    * alone in their bucket): multi-probe buys that recall with ZERO extra
    * index storage or build passes — independent hash tables would cost
    * extra copies of the 100 TB index. The probe count is FIXED at
    * min(4, P) flips + home (r12 — the scaling audit caught the previous
    * probe-ALL-planes fan-out growing with the adaptive plane count:
    * probes 5→9 at 10× data, candidate volume n·(P+1) ≈ n log n, 11.1×
    * measured; query-directed selection keeps volume n·5 LINEAR and
    * targets the flips by boundary distance instead of probing blindly).
    * At every gate scale P = 4, so all flips are probed and results are
    * byte-identical to the probe-all formulation. Plane dots are the same
    * left-to-right double fold on both engines (bit-identical values),
    * ranked by (floor(|dot|·1e6), plane) — the 1e-6 quantization makes
    * the flip selection robust to last-ulp accumulation-order changes in
    * either engine's fold (r12 ADVICE: an engine-version change to
    * list_sum would otherwise silently diverge the flip sets), and
    * floor(x·1e6) is pure IEEE multiply+floor, computed bit-identically
    * by both engines on the same double — unlike round(x, 6), whose
    * Spark (BigDecimal HALF_UP) and DuckDB (x·1e6 then nearbyint)
    * implementations can disagree exactly at a .5 boundary (review
    * finding). The oracle replays the quantized ranking exactly.
    *
    * Exchange budget (r12 VERDICT item 2 — wall time and shuffle-write
    * per formulation in BENCH_NOTES.md Round 13, "Mandate delivery"
    * item 2): the
    * probe self-join replicates each query vector's payload 5× through
    * the probe exchange — that term is (probes+1)·n payloads and is NOT
    * the dominant one. The dominant term in the r12 shape was the
    * rn=1 WINDOW's pair-volume exchange: every (query, candidate) pair
    * (≈ bucket-occupancy × 5 per query, ~640n rows) crossed a second
    * shuffle to be ranked. This version replaces the window with a
    * partial-aggregated max_by (max of a (cos_sim, −nn_id) struct):
    * map-side combine collapses each partition's pairs to ONE row per
    * query before the exchange, so the second shuffle carries ≤ n rows
    * per map partition of 24-byte metadata — identical output (ties
    * keep the lower nn_id), pair volume never crosses an exchange. The
    * scaladoc'd alternative of exploding only (vec_id, probe) keys and
    * fetching payloads for join survivors was measured WORSE: scoring
    * needs both payloads per PAIR, so the fetch-join moves the query
    * payload pair-volume times (~640n) through an exchange instead of
    * probe-volume times (5n) — the metadata probe exchange saves 5n
    * payloads but pays ~128× of them back at the fetch. */
  def qEmbedAnnMp(s: SparkSession, dir: String): DataFrame = {
    val np = planesFor(s, dir)
    val nFlips = math.min(4, np)
    annMpBest(annMpPairs(s, dir, np, nFlips))
      .orderBy(col("vec_id"))
  }

  /** The bucketed + probe-selected embedding frame (vec_id, embedding,
    * norm, bucket, probes) — probes = the nFlips single-bit flips plus
    * home. */
  private def annMpEmb(s: SparkSession, dir: String,
                              np: Int, nFlips: Int): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", np))
      .withColumn("norm", sqrt(sqNorm("embedding")))
      // per-plane signed dots, same fold as bucketCol's sign test —
      // through the codegen kernel (bit-identical; see planeDot)
      .withColumn("dts", array((0 until np).map { p =>
        planeDot("embedding", planes(p))
      }: _*))
      // the nFlips boundary-closest planes: rank by floor(|dot|·1e6)
      // (IEEE-identical on both engines), ties by plane index — see
      // scaladoc
      .withColumn("flips", expr(
        s"slice(transform(array_sort(transform(sequence(0, ${np - 1}), " +
          "p -> struct(floor(abs(element_at(dts, p + 1)) * 1e6) AS a, p AS p))), " +
          s"s -> s.p), 1, $nFlips)"))
      .withColumn("probes", concat(
        expr("transform(flips, p -> bucket ^ shiftleft(1, p))"),
        array(col("bucket"))))
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"),
        col("probes"))

  /** The scored multi-probe candidate pairs (vec_id, nn_id, cos_sim). */
  private def annMpPairs(s: SparkSession, dir: String,
                                np: Int, nFlips: Int): DataFrame = {
    val emb = annMpEmb(s, dir, np, nFlips)
    val l = emb.select(col("vec_id"), col("embedding"), col("norm"),
      explode(col("probes")).as("probe"))
    val r = emb.select(col("bucket").as("probe"), col("vec_id").as("nn_id"),
      col("embedding").as("emb2"), col("norm").as("norm2"))
    l.join(r, Seq("probe"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        pairCos("embedding", "emb2", "norm", "norm2"))
  }

  /** Best candidate per query across all probed buckets, selected by a
    * partial-aggregated max over a (cos_sim, −nn_id) struct — the exact
    * (cos_sim DESC, nn_id ASC) rn=1 semantics (no pair can appear twice:
    * a candidate has ONE bucket and the probe keys are pairwise
    * distinct), with map-side combine instead of a pair-volume window
    * exchange. */
  private def annMpBest(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("nn_id")).as("neg_nn"))).as("m"))
      .select(col("vec_id"), (-col("m.neg_nn")).as("nn_id"),
        col("m.cos_sim").as("cos_sim"))

  private val qEmbedAnnMpSql = {
    // query-directed probes: the min(4, P) boundary-closest plane flips
    // (rank by (floor(|dot|·1e6), p) — plane dots are the same double
    // fold as the Spark side, and the IEEE multiply+floor quantization
    // replays bit-identically on both engines, r12 ADVICE + review
    // finding) + home
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pl AS (
       |  SELECT vec_id, p,
       |    ${planeDotSql("embedding", "p")} AS d
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(0, $npSql)) AS p
       |        FROM b)),
       |fl AS (
       |  SELECT vec_id, p,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY floor(abs(d) * 1e6), p) AS rk
       |  FROM pl),
       |l AS (
       |  SELECT b.vec_id, b.embedding,
       |    xor(CAST(b.bucket AS BIGINT), (1::BIGINT << f.p)) AS probe
       |  FROM b JOIN fl f ON f.vec_id = b.vec_id
       |    AND f.rk <= least(4, $npSql)
       |  UNION ALL
       |  SELECT vec_id, embedding, CAST(bucket AS BIGINT) AS probe FROM b),
       |pairs AS (
       |  SELECT l.vec_id, r.vec_id AS nn_id,
       |    round(${dotSql("l.embedding", "r.embedding")}
       |      / (sqrt(${dotSql("l.embedding", "l.embedding")})
       |         * sqrt(${dotSql("r.embedding", "r.embedding")})), 4) AS cos_sim
       |  FROM l JOIN b r ON l.probe = CAST(r.bucket AS BIGINT)
       |    AND l.vec_id <> r.vec_id)
       |SELECT vec_id, nn_id, cos_sim FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
       |  FROM pairs)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------- q_embed_filtered
  /** FILTERED vector search — ANN under a metadata predicate (the "only
    * in-catalog / only this-language items are retrievable" shape every
    * production vector store treats as first-class). Design axis:
    * PRE-filtering — the predicate (label < 3, ~30% selectivity) is applied
    * to the candidate side BEFORE the bucket self-join, so the join builds
    * on the filtered minority and the predicate prunes at the scan
    * (PushedFilters), never post-hoc on scored pairs. Post-filtering
    * (score, then discard) wastes exactly 1/selectivity of the rerank work
    * and under-fills top-k; at 100 TB pre-filtering is the difference
    * between scoring 30% and 100% of the bucket pairs. Same
    * bucket-candidate + exact-rerank algebra as q_embed_ann otherwise;
    * queries whose bucket holds no eligible candidate drop out (the
    * filtered-search recall gap multi-table LSH closes at scale). */
  def qEmbedFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val l = emb.select(col("bucket"), col("vec_id"), col("embedding"), col("norm"))
    val r = emb.filter(col("label") < 3)
      .select(col("bucket"), col("vec_id").as("nn_id"), col("label").as("nn_label"),
        col("embedding").as("emb2"), col("norm").as("norm2"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos_sim",
        pairCos("embedding", "emb2", "norm", "norm2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nn_id"), col("nn_label"), col("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val qEmbedFilteredSql =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT l.vec_id, r.vec_id AS nn_id, r.label AS nn_label,
       |    round(${dotSql("l.embedding", "r.embedding")}
       |      / (sqrt(${dotSql("l.embedding", "l.embedding")})
       |         * sqrt(${dotSql("r.embedding", "r.embedding")})), 4) AS cos_sim
       |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
       |  WHERE r.label < 3)
       |SELECT vec_id, nn_id, nn_label, cos_sim FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos_sim DESC, nn_id) AS rn
       |  FROM pairs)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q_pq_ann
  /** Product-quantization ANN — the technique that makes billion-vector
    * search fit in memory: each 64-dim vector is ENCODED as 4 one-byte-ish
    * codes (per 16-dim block, the id of the nearest of 8 codebook entries),
    * and query distance is approximated by table lookup (ADC): the
    * precomputed query↔codeword distance per block, summed over the 4
    * codes. Here the codebook is the same fixed seeded-sample style the
    * IVF family uses (first 8 of `vec_id % 53`; `Clustering.qKmeans` is
    * the documented training upgrade), arithmetic is micro-unit integer L2
    * (Clustering's quantization — exact on both engines), and the output
    * reports approx vs exact distance for the top-10 so the PQ error is
    * visible in the gated result.
    *
    * Scale shape: codebook and ADC table ride into the plan as literals
    * (8×64 + 4×8 longs), so ENCODE and the ADC scan are pure map stages —
    * no join, no shuffle; the only exchange is the top-10
    * TakeOrderedAndProject. The encode output (4 small ints per vector) is
    * the 64×-compressed index a production deployment would persist via
    * IndexStore and scan instead of the raw vectors. */
  def qPqAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = 4      // sub-blocks
    val Bw = 16    // dims per block
    val K = 8      // codewords per block
    val vecs = Tables.embeddings(s, dir)
      .select($"vec_id",
        expr("transform(embedding, " +
          "x -> cast(floor(cast(x as double) * 1000000d) as bigint))")
          .as("v"))
    // dim-sized driver reads, same budget as qKmeans' centroid sync: the
    // 8-entry codebook and the 1-row query vector
    val codebook: Array[Seq[Long]] = vecs
      .filter($"vec_id" % 53 === 0).orderBy($"vec_id").limit(K)
      .select($"v").collect().map(_.getSeq[Long](0))
    val qv: Seq[Long] = vecs.filter($"vec_id" === 0)
      .select($"v").collect()(0).getSeq[Long](0)
    def blockL2(a: Seq[Long], b: Seq[Long], m: Int): Long =
      (m * Bw until (m + 1) * Bw).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // ADC lookup tables: query -> codeword distance per (block, code)
    val adc: Array[Seq[Long]] =
      Array.tabulate(M)(m => codebook.toSeq.map(c => blockL2(qv, c, m)))

    val withCodes = (0 until M).foldLeft(vecs) { (df, m) =>
      val cvs = s"transform(cb$m, c -> aggregate(zip_with(" +
        s"slice(v, ${m * Bw + 1}, $Bw), c, (x, y) -> (x - y) * (x - y)), " +
        "cast(0 as bigint), (a, e) -> a + e))"
      df.withColumn(s"cb$m",
          typedLit(codebook.toSeq.map(c => c.slice(m * Bw, (m + 1) * Bw))))
        .withColumn(s"code$m",
          expr(s"array_position($cvs, array_min($cvs))").cast("int"))
        .drop(s"cb$m")
    }
    val approx = (0 until M)
      .map(m => expr(s"element_at(adc_t$m, code$m)"))
      .reduce(_ + _)
    val exactD =
      "aggregate(zip_with(v, qlit, (x, y) -> (x - y) * (x - y)), " +
        "cast(0 as bigint), (a, e) -> a + e)"
    (0 until M).foldLeft(withCodes) { (df, m) =>
        df.withColumn(s"adc_t$m", typedLit(adc(m)))
      }
      .withColumn("qlit", typedLit(qv))
      .filter($"vec_id" =!= 0)
      .select($"vec_id",
        ($"code0" * 1000000 + $"code1" * 10000 + $"code2" * 100 + $"code3")
          .as("pq_code"),
        approx.as("approx_dist"), expr(exactD).as("exact_dist"))
      .orderBy($"approx_dist", $"vec_id")
      .limit(10)
  }

  private val qPqAnnSql = {
    val M = 4; val Bw = 16; val K = 8
    def bL2(a: String, b: String, m: Int) =
      s"list_sum(list_transform(range(${m * Bw + 1}, ${m * Bw + Bw + 1}), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |cb AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
       |  FROM v WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT $K),
       |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
       |m AS (SELECT unnest(range(0, $M)) AS m),
       |bd AS (
       |  SELECT v.vec_id, cb.j, m.m,
       |    CASE m.m ${(0 until M).map(i =>
              s"WHEN $i THEN ${bL2("v.v", "cb.c", i)}").mkString(" ")}
       |    END AS d
       |  FROM v CROSS JOIN cb CROSS JOIN m),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY d, j) AS rn FROM bd) WHERE rn = 1),
       |qd AS (
       |  SELECT cb.j, m.m,
       |    CASE m.m ${(0 until M).map(i =>
              s"WHEN $i THEN ${bL2("q.qv", "cb.c", i)}").mkString(" ")}
       |    END AS d
       |  FROM q CROSS JOIN cb CROSS JOIN m),
       |approx AS (
       |  SELECT c.vec_id,
       |    CAST(sum(qd.d) AS BIGINT) AS approx_dist,
       |    CAST(sum(CASE c.m WHEN 3 THEN c.code WHEN 2 THEN c.code * 100
       |      WHEN 1 THEN c.code * 10000 ELSE c.code * 1000000 END)
       |      AS INT) AS pq_code
       |  FROM codes c JOIN qd ON qd.m = c.m AND qd.j = c.code
       |  GROUP BY c.vec_id),
       |exact AS (
       |  SELECT v.vec_id,
       |    CAST(list_sum(list_transform(range(1, ${M * Bw + 1}),
       |      i -> (v.v[i] - q.qv[i]) * (v.v[i] - q.qv[i]))) AS BIGINT)
       |      AS exact_dist
       |  FROM v CROSS JOIN q)
       |SELECT a.vec_id, a.pq_code, a.approx_dist, e.exact_dist
       |FROM approx a JOIN exact e ON e.vec_id = a.vec_id
       |WHERE a.vec_id <> 0
       |ORDER BY a.approx_dist, a.vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------- q_mutual_info
  /** Mutual information between the label and the LSH bucket — the
    * one-number answer to "does the embedding space know about the
    * labels?". MI ≈ 0 (vs the label entropy) means bucket membership
    * carries no label signal (expected on random labels); a high
    * normalized MI means the ANN index is effectively a classifier and
    * label-stratified probing becomes viable. Companion to q_label_noise:
    * that flags rows, this grades the space.
    *
    * Engine parity: joint/margin counts are exact integers over an
    * O(labels × buckets) table; each MI/entropy term rounds its single ln
    * to 6 dp and nano-scales to a BIGINT (the BM25 idiom), so the sums
    * are order-independent; products run in DOUBLE (overflow-hardened
    * from day one). */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.embeddings(s, dir)
      .select(col("label"), bucketCol("embedding", planesFor(s, dir)).as("bucket"))
    val joint = b.groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("n_lb"))
    val ml = joint.groupBy(col("label")).agg(sum(col("n_lb")).as("n_l"))
    val mb = joint.groupBy(col("bucket")).agg(sum(col("n_lb")).as("n_b"))
    val tot = joint.agg(sum(col("n_lb")).as("n"))
    def nanoSum(term: Column): Column =
      (sum(round(term * lit(1e9), 0).cast("long")) / lit(1e9))
    val mi = joint.join(broadcast(ml), Seq("label"))
      .join(broadcast(mb), Seq("bucket"))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("n_lb").cast("double") / col("n"))
      .withColumn("lr", round(log(
        (col("n_lb").cast("double") * col("n").cast("double"))
          / (col("n_l").cast("double") * col("n_b").cast("double"))), 6))
      .agg(nanoSum(col("p") * col("lr")).as("mi_nats"))
    def entropy(m: DataFrame, cnt: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .withColumn("p", col(cnt).cast("double") / col("n"))
        .agg(nanoSum((-col("p")) * round(log(col("p")), 6)).as("h"))
    val hl = entropy(ml, "n_l").withColumnRenamed("h", "h_label")
    val hb = entropy(mb, "n_b").withColumnRenamed("h", "h_bucket")
    tot.select(col("n").as("n_vectors"))
      .crossJoin(broadcast(ml.agg(count(lit(1)).as("n_labels"))))
      .crossJoin(broadcast(mb.agg(count(lit(1)).as("n_buckets"))))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(hl))
      .crossJoin(broadcast(hb))
      .select(col("n_vectors"), col("n_labels"), col("n_buckets"),
        col("mi_nats"), col("h_label"), col("h_bucket"),
        round(col("mi_nats") / least(col("h_label"), col("h_bucket")), 6)
          .as("nmi"))
  }

  private val qMutualInfoSql =
    s"""WITH b AS (
       |  SELECT label, ${bucketSql("embedding")} AS bucket FROM embeddings),
       |joint AS (
       |  SELECT label, bucket, count(*) AS n_lb FROM b GROUP BY 1, 2),
       |ml AS (SELECT label, CAST(sum(n_lb) AS BIGINT) AS n_l
       |       FROM joint GROUP BY label),
       |mb AS (SELECT bucket, CAST(sum(n_lb) AS BIGINT) AS n_b
       |       FROM joint GROUP BY bucket),
       |tot AS (SELECT CAST(sum(n_lb) AS BIGINT) AS n FROM joint),
       |mi AS (
       |  SELECT CAST(sum(CAST(round(
       |      (CAST(j.n_lb AS DOUBLE) / t.n)
       |        * round(ln((CAST(j.n_lb AS DOUBLE) * CAST(t.n AS DOUBLE))
       |            / (CAST(ml.n_l AS DOUBLE) * CAST(mb.n_b AS DOUBLE))), 6)
       |      * 1e9, 0) AS BIGINT)) AS BIGINT) / 1e9 AS mi_nats
       |  FROM joint j
       |  JOIN ml USING (label) JOIN mb USING (bucket) CROSS JOIN tot t),
       |hl AS (
       |  SELECT CAST(sum(CAST(round(
       |      (-(CAST(n_l AS DOUBLE) / t.n))
       |        * round(ln(CAST(n_l AS DOUBLE) / t.n), 6) * 1e9, 0)
       |      AS BIGINT)) AS BIGINT) / 1e9 AS h_label
       |  FROM ml CROSS JOIN tot t),
       |hb AS (
       |  SELECT CAST(sum(CAST(round(
       |      (-(CAST(n_b AS DOUBLE) / t.n))
       |        * round(ln(CAST(n_b AS DOUBLE) / t.n), 6) * 1e9, 0)
       |      AS BIGINT)) AS BIGINT) / 1e9 AS h_bucket
       |  FROM mb CROSS JOIN tot t)
       |SELECT t.n AS n_vectors,
       |  (SELECT count(*) FROM ml) AS n_labels,
       |  (SELECT count(*) FROM mb) AS n_buckets,
       |  mi.mi_nats, hl.h_label, hb.h_bucket,
       |  round(mi.mi_nats / least(hl.h_label, hb.h_bucket), 6) AS nmi
       |FROM tot t CROSS JOIN mi CROSS JOIN hl CROSS JOIN hb""".stripMargin

  // --------------------------------------------------------------- q_maxsim
  /** Late-interaction retrieval scoring (the ColBERT shape): query and
    * document vectors are treated as 4 blocks of 16 dims ("token
    * embeddings"), and the score is Σ over query blocks of the MAX dot
    * product against any document block — fine-grained matching that a
    * single pooled dot product washes out. Top-10 against the vec_id = 0
    * query.
    *
    * Scale shape: a pure map over the corpus (block dots are `float_dot`
    * over array slices, all codegen; the query rides in as a broadcast
    * 1-row scalar) + one TakeOrderedAndProject — the brute-force tier; the
    * LSH/IVF bucketing tiers compose with it exactly as they do with the
    * pooled cosine.
    *
    * Engine parity: 16-element block dots are the same left-to-right
    * double folds as the 64-dim family; greatest() and the fixed-order
    * 4-term sum are order-identical in both engines; one 4-dp round at the
    * end. */
  def qMaxsim(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    def blockDot(db: Int, qb: Int): Column = expr(
      s"float_dot(slice(embedding, ${db * 16 + 1}, 16), " +
        s"slice(qv, ${qb * 16 + 1}, 16))")
    val score = (0 until 4)
      .map(qb => greatest((0 until 4).map(db => blockDot(db, qb)): _*))
      .reduce(_ + _)
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"), round(score, 4).as("maxsim"))
      .orderBy(col("maxsim").desc, col("vec_id"))
      .limit(10)
  }

  private val qMaxsimSql = {
    def blockDot(db: Int, qb: Int): String =
      s"list_sum(list_transform(range(1, 17), i -> " +
        s"CAST(e.embedding[i + ${db * 16}] AS DOUBLE) * " +
        s"CAST(q.qv[i + ${qb * 16}] AS DOUBLE)))"
    val score = (0 until 4)
      .map(qb => s"greatest(${(0 until 4).map(db => blockDot(db, qb)).mkString(", ")})")
      .mkString(" + ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, round($score, 4) AS maxsim
       |FROM embeddings e CROSS JOIN q
       |WHERE e.vec_id <> 0
       |ORDER BY maxsim DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------- q_label_noise
  /** Label-noise audit (confident-learning-lite): every vector is checked
    * against the majority label of its 3 nearest in-bucket neighbors;
    * disagreements are the label-error SUSPECTS a human (or a stronger
    * model) re-annotates first. On randomly-labeled synthetic data most
    * vectors disagree with their neighborhood — the audit's value is the
    * deterministic machinery, which is identical on real clustered labels.
    *
    * Scale shape: same bucket-keyed candidate join as the ANN family; the
    * top-3 and majority-vote selections are rank windows over in-bucket
    * candidates (bounded by bucket size); output is the flagged subset.
    * Vectors with no in-bucket neighbor drop out (multi-probe recovers
    * them at scale). */
  def qLabelNoise(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val l = emb.select(col("bucket"), col("vec_id"), col("label"),
      col("embedding"), col("norm"))
    val r = emb.select(col("bucket"), col("vec_id").as("nid"),
      col("label").as("nlabel"), col("embedding").as("emb2"),
      col("norm").as("norm2"))
    val wNn = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nid"))
    val top3 = l.join(r, Seq("bucket"))
      .filter(col("vec_id") =!= col("nid"))
      .withColumn("cos_sim", pairCos("embedding", "emb2", "norm", "norm2"))
      .withColumn("rn", row_number().over(wNn))
      .filter(col("rn") <= 3)
    val wVote = Window.partitionBy(col("vec_id"))
      .orderBy(col("n_votes").desc, col("nlabel"))
    top3.groupBy(col("vec_id"), col("label"), col("nlabel"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1 && col("label") =!= col("nlabel"))
      .select(col("vec_id"), col("label"),
        col("nlabel").as("nn_majority"), col("n_votes"))
      .orderBy(col("vec_id"))
  }

  private val qLabelNoiseSql =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding,
       |    ${bucketSql("embedding")} AS bucket,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |top3 AS (
       |  SELECT * FROM (
       |    SELECT v.vec_id, v.label, n.label AS nlabel,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        round(${dotSql("v.embedding", "n.embedding")}
       |          / (v.nrm * n.nrm), 4) DESC, n.vec_id) AS rn
       |    FROM b v JOIN b n
       |      ON n.bucket = v.bucket AND n.vec_id <> v.vec_id)
       |  WHERE rn <= 3),
       |votes AS (
       |  SELECT vec_id, label, nlabel, count(*) AS n_votes
       |  FROM top3 GROUP BY 1, 2, 3),
       |winner AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY n_votes DESC, nlabel) AS vr
       |    FROM votes)
       |  WHERE vr = 1)
       |SELECT vec_id, label, nlabel AS nn_majority, n_votes
       |FROM winner WHERE label <> nlabel
       |ORDER BY vec_id""".stripMargin

  // ----------------------------------------------------- q_contrastive_pairs
  /** Contrastive-pair mining for embedding-model training: for every
    * anchor (each 50th vector), one positive (its manufactured exact copy,
    * cos ≥ 0.999 — copies always share the anchor's LSH bucket since their
    * signatures are equal) and one HARD negative — the highest-cosine
    * in-bucket candidate below the positive band. Hard negatives mined
    * from the ANN candidate set (not random ones) are what make a
    * contrastive fine-tune converge; this is the assembly step of that
    * training set.
    *
    * Scale shape: identical candidate generation to q_embed_neardup —
    * bucket-keyed join, cost Σ bucket·anchors-in-bucket, never corpus²;
    * the per-anchor top-1 selections are rank windows over in-bucket
    * candidates. Anchors without an in-bucket negative drop out (at scale,
    * multi-probe recovers them — q_embed_ann_mp's machinery). */
  def qContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .withColumn("bucket", bucketCol("embedding", planesFor(s, dir)))
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val anchors = corpus
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 10000)
      .select(col("bucket"), col("vec_id").as("anchor_id"),
        col("embedding").as("aemb"), col("norm").as("anorm"))
    val cand = anchors
      .join(corpus.select(col("bucket"), col("vec_id").as("cid"),
        col("embedding").as("cemb"), col("norm").as("cnorm")), Seq("bucket"))
      .filter(col("cid") =!= col("anchor_id"))
      .withColumn("cos_sim", pairCos("aemb", "cemb", "anorm", "cnorm"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("cid"))
    val pos = cand.filter(col("cos_sim") >= 0.999)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("cid").as("pos_id"),
        col("cos_sim").as("pos_cos"))
    val neg = cand.filter(col("cos_sim") < 0.999)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("cid").as("neg_id"),
        col("cos_sim").as("neg_cos"))
    pos.join(neg, Seq("anchor_id"))
      .orderBy(col("anchor_id"))
  }

  private val qContrastivePairsSql =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |b AS (
       |  SELECT vec_id, embedding,
       |    ${bucketSql("embedding")} AS bucket,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM corpus),
       |cand AS (
       |  SELECT a.vec_id AS anchor_id, c.vec_id AS cid,
       |    round(${dotSql("a.embedding", "c.embedding")}
       |      / (a.nrm * c.nrm), 4) AS cos_sim
       |  FROM b a JOIN b c ON c.bucket = a.bucket AND c.vec_id <> a.vec_id
       |  WHERE a.vec_id % 50 = 0 AND a.vec_id < 10000),
       |pos AS (
       |  SELECT anchor_id, cid AS pos_id, cos_sim AS pos_cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |          ORDER BY cos_sim DESC, cid) AS rn
       |        FROM cand WHERE cos_sim >= 0.999)
       |  WHERE rn = 1),
       |neg AS (
       |  SELECT anchor_id, cid AS neg_id, cos_sim AS neg_cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |          ORDER BY cos_sim DESC, cid) AS rn
       |        FROM cand WHERE cos_sim < 0.999)
       |  WHERE rn = 1)
       |SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos
       |FROM pos JOIN neg USING (anchor_id)
       |ORDER BY anchor_id""".stripMargin

  // --------------------------------------------------------- q_hybrid_search
  /** Hybrid retrieval: reciprocal-rank fusion (k = 60) of the BM25
    * keyword ranking ([[TextAnalysis.qBm25]]'s top-20) and the exact
    * cosine top-20 against the vec_id = 0 query embedding, joined on
    * doc_id = vec_id (the tables are row-aligned by construction). RRF is
    * the standard production fusion for keyword + vector search: rank-only,
    * so the two scores' incompatible scales never need calibration; a doc
    * missing from one list simply contributes nothing from it.
    *
    * Scale shape: both input rankings are top-k (TakeOrderedAndProject — k
    * rows to the driver, no global sort); the fusion join and final sort
    * operate on ≤ 2k rows. The single-partition rank windows run on
    * already-limited 20-row frames.
    *
    * Engine parity: ranks are integers; each RRF term is one double
    * division 1.0/(60+rank) — identical IEEE ops both engines (the oracle
    * CASTs the literal to DOUBLE so DuckDB's decimal division never
    * enters) — and the 6-dp round cannot tie (term sums are rationals with
    * denominators carrying primes > 5). */
  def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val kwWin = Window.orderBy(col("bm25").desc, col("doc_id"))
    val kw = TextAnalysis.qBm25(s, dir)
      .withColumn("rank_kw", row_number().over(kwWin))
      .select(col("doc_id"), col("rank_kw"))
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cosWin = Window.orderBy(col("cos_sim").desc, col("doc_id"))
    val vec = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(dot("embedding", "qv") /
          (sqrt(sqNorm("embedding")) * sqrt(sqNorm("qv"))), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(20)
      .withColumn("rank_vec", row_number().over(cosWin))
      .select(col("doc_id"), col("rank_vec"))
    kw.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_kw"), col("rank_vec"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("rank_kw")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
  }

  private val qHybridSearchSql =
    s"""WITH bm AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
       |      AS rank_kw
       |  FROM (${TextAnalysis.qBm25Sql})),
       |vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cosl AS (
       |  SELECT e.vec_id AS doc_id,
       |    round(${dotSql("e.embedding", "v.qv")}
       |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |         * sqrt(${dotSql("v.qv", "v.qv")})), 4) AS cos_sim
       |  FROM embeddings e CROSS JOIN vq v
       |  WHERE e.vec_id <> 0
       |  ORDER BY cos_sim DESC, doc_id LIMIT 20),
       |vec AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT)
       |      AS rank_vec
       |  FROM cosl)
       |SELECT coalesce(b.doc_id, v.doc_id) AS doc_id, rank_kw, rank_vec,
       |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_kw),
       |                 CAST(0 AS DOUBLE)) +
       |        coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_vec),
       |                 CAST(0 AS DOUBLE)), 6) AS rrf
       |FROM bm b FULL OUTER JOIN vec v ON v.doc_id = b.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin

  // ------------------------------------------------------------ q_mmr_rerank
  /** Maximal-marginal-relevance re-rank: from the top-12 cosine candidates
    * for the vec-0 query, greedily pick 5 maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) (λ = 0.7) — the
    * diversification step a retrieval stack runs between ANN recall and
    * the consumer, so the context window isn't five near-duplicates of
    * the same hit.
    *
    * Determinism: every sim is rounded to 4 dp before any comparison
    * (the repo-wide pair-scoring discipline), mmr arithmetic over the
    * rounded sims is the same double expression on both engines, ties
    * break on id. The oracle replays the greedy loop as a recursive CTE
    * carrying the selected list.
    *
    * Scale shape: the fact-sized work is the ONE distributed scoring pass
    * (brute force here; at 100 TB the pool feeds from q_embed_ivf's
    * bucketed recall instead — same downstream). Everything after the
    * top-12 TakeOrderedAndProject is CONSTANT-sized, so the inherently
    * sequential greedy runs on the DRIVER over the collected pool
    * (bounded O(k²) = 132 doubles — the k-means centroid-sync budget
    * class) instead of five sequential micro-plans + two persists, which
    * cost ~4–5 s of pure job-scheduling at sf0.1 (r13 VERDICT item 5).
    * The pairwise sims still come from the SAME Spark expressions,
    * evaluated over a LocalRelation of the collected pool — no re-scan,
    * and the rounded doubles stay bit-identical to the old plan's. */
  def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cand = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("id"), col("embedding").as("emb"),
        round(dot("embedding", "qv") /
          (sqrt(sqNorm("embedding")) * sqrt(sqNorm("qv"))), 4).as("simq"))
      .orderBy(col("simq").desc, col("id"))
      .limit(12)
    val pool = cand.collect() // the one distributed job: 12 rows
    val local = s.createDataFrame(
      java.util.Arrays.asList(pool: _*), cand.schema)
    val a = local.select(col("id").as("a"), col("emb").as("ea"))
    val b = local.select(col("id").as("b"), col("emb").as("eb"))
    val simMap: Map[(Long, Long), Double] = a.join(b, col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(dot("ea", "eb") /
          (sqrt(sqNorm("ea")) * sqrt(sqNorm("eb"))), 4).as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val simq: Map[Long, Double] =
      pool.map(r => r.getAs[Long]("id") -> r.getAs[Double]("simq")).toMap
    // greedy argmax of 0.7·simq − 0.3·max(sim to selected); ascending-id
    // scan with a STRICT improve keeps the (mmr DESC, id ASC) tiebreak
    val ids = pool.map(_.getAs[Long]("id")).sorted
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
    val sel = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double, Double, Double)]
    for (step <- 1 to 5 if chosen.size < ids.length) {
      var bestId = Long.MinValue
      var bestMmr = Double.NegativeInfinity
      var bestPen = 0.0d
      ids.foreach { id =>
        if (!chosen.contains(id)) {
          val pen =
            if (chosen.isEmpty) 0.0d
            else chosen.iterator.map(sid => simMap((id, sid))).max
          val mmr = 0.7d * simq(id) - 0.3d * pen
          if (mmr > bestMmr) { bestId = id; bestMmr = mmr; bestPen = pen }
        }
      }
      chosen += bestId
      sel += ((step, bestId, simq(bestId), bestPen, bestMmr))
    }
    // output rounding via Spark's own round(), like every gated query;
    // the 5-row presentation sort stays in ONE partition — an orderBy
    // would range-exchange a local relation for nothing
    sel.toSeq.toDF("step", "vec_id", "sim_q", "penalty", "mmr")
      .select(col("step"), col("vec_id"), col("sim_q"),
        round(col("penalty"), 4).as("penalty"), round(col("mmr"), 4).as("mmr"))
      .coalesce(1)
      .sortWithinPartitions(col("step"))
  }

  private val qMmrRerankSql =
    s"""WITH RECURSIVE
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id AS id, e.embedding AS emb,
       |    round(${dotSql("e.embedding", "q.qv")}
       |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |         * sqrt(${dotSql("q.qv", "q.qv")})), 4) AS simq
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> 0
       |  ORDER BY simq DESC, id LIMIT 12),
       |pairs AS (
       |  SELECT a.id AS a, b.id AS b,
       |    round(${dotSql("a.emb", "b.emb")}
       |      / (sqrt(${dotSql("a.emb", "a.emb")})
       |         * sqrt(${dotSql("b.emb", "b.emb")})), 4) AS sim
       |  FROM cand a JOIN cand b ON a.id <> b.id),
       |g AS (
       |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS sel
       |  UNION ALL
       |  SELECT step + 1, list_append(sel, (
       |      SELECT c.id FROM cand c
       |      WHERE NOT list_contains(g.sel, c.id)
       |      ORDER BY 0.7 * c.simq - 0.3 * coalesce(
       |          (SELECT max(p.sim) FROM pairs p
       |           WHERE p.a = c.id AND list_contains(g.sel, p.b)), 0.0) DESC,
       |        c.id
       |      LIMIT 1))
       |  FROM g WHERE step < 5),
       |final AS (SELECT sel FROM g WHERE step = 5),
       |picks AS (
       |  SELECT CAST(i AS INT) AS step, sel[i] AS id
       |  FROM final, generate_series(1, 5) s(i))
       |SELECT p.step, p.id AS vec_id, c.simq AS sim_q,
       |  coalesce((SELECT round(max(pr.sim), 4) FROM pairs pr
       |            JOIN picks p2 ON pr.b = p2.id
       |            WHERE pr.a = p.id AND p2.step < p.step), 0.0) AS penalty,
       |  round(0.7 * c.simq - 0.3 * coalesce(
       |    (SELECT max(pr.sim) FROM pairs pr JOIN picks p2 ON pr.b = p2.id
       |     WHERE pr.a = p.id AND p2.step < p.step), 0.0), 4) AS mmr
       |FROM picks p JOIN cand c ON c.id = p.id
       |ORDER BY p.step""".stripMargin

  // ------------------------------------------------------------- registry
  // --------------------------------------------------------- q_scalar_quant
  /** Int8 scalar quantization — the OTHER standard vector-compression path
    * next to [[qPqAnn]]'s product quantization: each dimension is affinely
    * mapped to an 8-bit code using the corpus per-dim min/max, cutting the
    * index to ¼ float size while (unlike PQ) keeping every dimension
    * addressable. The gated result is the honest error report: top-10
    * nearest to the query vector by QUANTIZED distance, with the exact
    * distance and each vector's reconstruction error alongside — the
    * recall-vs-memory evidence a deployment reads before switching the
    * fleet to int8.
    *
    * Engine parity: micro-unit integer inputs (Clustering's quantization);
    * codes are `((x−mn)·255) div span` with non-negative operands, so
    * Spark `div` and DuckDB `//` agree; reconstruction and both distances
    * are exact integer sums.
    *
    * Scale shape: per-dim min/max is ONE map-side-combinable aggregate
    * collapsed to a 1-row array pair and broadcast back (O(dim) state —
    * never a driver collect); encode/reconstruct/distance are pure map
    * stages inside codegen; the only other exchange is the top-10
    * TakeOrderedAndProject. At 100 TB the encoded table is the asset you'd
    * persist via IndexStore; the stats row is the model. */
  def qScalarQuant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = Tables.embeddings(s, dir)
      .select($"vec_id",
        expr("transform(embedding, " +
          "x -> cast(floor(cast(x as double) * 1000000d) as bigint))")
          .as("v"))
    val stats = vecs
      .select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)")
          .as("mn"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)")
          .as("mx"))
    val recon =
      "transform(sequence(1, 64), i -> element_at(mn, i) + " +
        "(CASE WHEN element_at(mx, i) > element_at(mn, i) THEN " +
        "((element_at(v, i) - element_at(mn, i)) * 255) " +
        "div (element_at(mx, i) - element_at(mn, i)) ELSE 0L END " +
        "* (element_at(mx, i) - element_at(mn, i))) div 255)"
    def l2(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
        "cast(0 as bigint), (acc, e) -> acc + e)"
    val coded = vecs.crossJoin(broadcast(stats))
      .withColumn("vr", expr(recon))
    val qrow = coded.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"vr".as("qvr"))
    coded.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qrow))
      .select($"vec_id",
        expr(l2("vr", "qvr")).as("approx_dist"),
        expr(l2("v", "qv")).as("exact_dist"),
        expr(l2("v", "vr")).as("q_err"))
      .orderBy($"approx_dist", $"vec_id")
      .limit(10)
  }

  private val qScalarQuantSql = {
    def l2(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), " +
        s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"
    val recon =
      "list_transform(range(1, 65), i -> s.mn[i] + " +
        "(CASE WHEN s.mx[i] > s.mn[i] THEN " +
        "((v.v[i] - s.mn[i]) * 255) // (s.mx[i] - s.mn[i]) ELSE 0 END " +
        "* (s.mx[i] - s.mn[i])) // 255)"
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |d AS (
       |  SELECT i, min(v.v[i]) AS mn, max(v.v[i]) AS mx
       |  FROM v CROSS JOIN range(1, 65) AS t(i)
       |  GROUP BY i),
       |s AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
       |      FROM d),
       |r AS (
       |  SELECT v.vec_id, v.v, $recon AS vr
       |  FROM v CROSS JOIN s),
       |q AS (SELECT v AS qv, vr AS qvr FROM r WHERE vec_id = 0)
       |SELECT r.vec_id,
       |  ${l2("r.vr", "q.qvr")} AS approx_dist,
       |  ${l2("r.v", "q.qv")} AS exact_dist,
       |  ${l2("r.v", "r.vr")} AS q_err
       |FROM r CROSS JOIN q
       |WHERE r.vec_id <> 0
       |ORDER BY approx_dist, r.vec_id LIMIT 10""".stripMargin
  }

  // ----------------------------------------------------------------- q_ndcg
  /** nDCG@10 of the exact cosine ranking against label-match relevance —
    * the graded ranking-quality metric that [[qAnnRecall]]'s set-overlap
    * recall can't express (a relevant hit at rank 1 should count more than
    * at rank 10). DCG = Σ rel/log₂(rank+1) over the top-10; the ideal DCG
    * places all min(|label|−1, 10) relevant docs first, generated from a
    * broadcast 10-row position table, so ndcg = DCG/IDCG ∈ [0,1].
    *
    * Scale shape: the ranking reuses the broadcast-query × corpus pattern
    * (queries are the sampled 1/20 slice, broadcast; the corpus side
    * streams), the per-query window ranks ≤ corpus rows per query key, and
    * everything after the top-10 filter is O(queries). log₂ on identical
    * integer ranks is engine-deterministic; the ≤10-term double sum is
    * round-4 neutralized (q_source_entropy precedent). */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val K = 10
    val emb = Tables.embeddings(s, dir)
      .withColumn("norm", sqrt(sqNorm("embedding")))
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val corpus = emb.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb2"), col("norm").as("norm2"),
      col("label").as("nn_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("nn_id"))
    val ranked = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("cos_sim", pairCos("qv", "emb2", "q_norm", "norm2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
    val dcg = ranked.groupBy(col("q_id"), col("q_label"))
      .agg(
        sum(when(col("nn_label") === col("q_label"),
          lit(1.0) / log2(col("rn") + 1)).otherwise(0.0)).as("dcg"),
        sum(when(col("nn_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_rel_top10"))
    val labCounts = emb.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_lab"))
    val positions = s.range(1, K + 1).select(col("id").as("i"))
    dcg
      .join(broadcast(labCounts), "q_label")
      .withColumn("lim", least(col("n_lab") - 1, lit(K.toLong)))
      .crossJoin(broadcast(positions))
      .groupBy(col("q_id"), col("dcg"), col("n_rel_top10"))
      .agg(sum(when(col("i") <= col("lim"),
        lit(1.0) / log2(col("i") + 1)).otherwise(0.0)).as("idcg"))
      .select(col("q_id"), col("n_rel_top10"),
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 4))
          .otherwise(0.0).as("ndcg_at_10"))
      .orderBy(col("q_id"))
  }

  private val qNdcgSql =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
       |      FROM e WHERE vec_id % 20 = 0),
       |ranked AS (
       |  SELECT q_id, q_label, nn_label, rn FROM (
       |    SELECT q.q_id, q.q_label, c.label AS nn_label,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        round(${dotSql("q.qv", "c.embedding")}
       |          / (sqrt(${dotSql("q.qv", "q.qv")})
       |             * sqrt(${dotSql("c.embedding", "c.embedding")})), 4) DESC,
       |        c.vec_id) AS rn
       |    FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id)
       |  WHERE rn <= 10),
       |dcg AS (
       |  SELECT q_id, q_label,
       |    sum(CASE WHEN nn_label = q_label
       |        THEN 1.0 / log2(rn + 1) ELSE 0 END) AS dcg,
       |    sum(CASE WHEN nn_label = q_label THEN 1 ELSE 0 END)
       |      AS n_rel_top10
       |  FROM ranked GROUP BY 1, 2),
       |lab AS (SELECT label, count(*) AS n_lab FROM e GROUP BY 1),
       |pos AS (SELECT unnest(range(1, 11)) AS i),
       |idcg AS (
       |  SELECT d.q_id, d.dcg, d.n_rel_top10,
       |    sum(CASE WHEN i <= least(l.n_lab - 1, 10)
       |        THEN 1.0 / log2(i + 1) ELSE 0 END) AS idcg
       |  FROM dcg d JOIN lab l ON l.label = d.q_label CROSS JOIN pos
       |  GROUP BY 1, 2, 3)
       |SELECT q_id, CAST(n_rel_top10 AS BIGINT) AS n_rel_top10,
       |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 4) ELSE 0.0 END
       |    AS ndcg_at_10
       |FROM idcg ORDER BY q_id""".stripMargin

  // ------------------------------------------------------ q_label_centroids
  /** Pairwise cosine similarity between label centroids — the class-
    * separation diagnostic read next to [[qKnnClassify]] (high inter-
    * centroid cosine = classes the geometry cannot separate). Vectors
    * explode to (label, dim, µ-unit) rows — micro-unit longs so the
    * per-dimension sums are exact integers (the q_kmeans discipline) —
    * then centroids join pairwise on the dimension index: O(labels²·dim)
    * work on aggregates, one double closed form per pair, round 4. */
  def qLabelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.embeddings(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"label", $"dim")
      .agg(sum(round($"x".cast("double") * 1e6, 0).cast("long")).as("sx"),
        count(lit(1)).as("cnt"))
      // centroid in µ-units; explicit floor so both engines agree on
      // negative sums (Spark's long cast truncates toward zero, DuckDB's
      // BIGINT cast rounds — floor is the one shared semantic)
      .select($"label", $"dim", floor($"sx" / $"cnt").cast("long").as("c"))
    val pairs = cells.alias("a")
      .join(cells.alias("b"),
        $"a.dim" === $"b.dim" && $"a.label" < $"b.label")
      .groupBy($"a.label".as("label_a"), $"b.label".as("label_b"))
      .agg(
        sum(($"a.c".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"b.c")).cast("double")
          .as("dot"),
        sum(($"a.c".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"a.c")).cast("double")
          .as("na"),
        sum(($"b.c".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"b.c")).cast("double")
          .as("nb"))
    pairs
      .select($"label_a", $"label_b",
        round($"dot" / (sqrt($"na") * sqrt($"nb")), 4).as("cos_centroid"))
      .orderBy($"label_a", $"label_b")
  }

  private val qLabelCentroidsSql =
    s"""WITH cells AS (
       |  SELECT label, dim,
       |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))
       |      AS HUGEINT) AS sx,
       |    count(*) AS cnt
       |  FROM (
       |    SELECT label, unnest(range(1, ${Dims + 1})) AS dim,
       |           unnest(embedding) AS x
       |    FROM embeddings)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT label, dim, CAST(floor(sx / cnt) AS BIGINT) AS c
       |  FROM cells),
       |pairs AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |    CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS DOUBLE) AS dot,
       |    CAST(sum(CAST(a.c AS HUGEINT) * a.c) AS DOUBLE) AS na,
       |    CAST(sum(CAST(b.c AS HUGEINT) * b.c) AS DOUBLE) AS nb
       |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT label_a, label_b,
       |  round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_centroid
       |FROM pairs ORDER BY label_a, label_b""".stripMargin

  // ------------------------------------------------------ q_embed_norm_audit
  /** Embedding-quality norm audit per label: vector counts, exact
    * zero-vector count (a zero norm poisons every cosine downstream —
    * division by zero or NaN similarity), and the min/max L2 norm — the
    * pre-flight data-quality gate an embedding pipeline runs before any
    * ANN index build. Norms come from the same native [[sqNorm]] /
    * 4-dp-rounded fold every similarity operator scores through, so the
    * audit and the search agree bit-for-bit about what a vector's norm
    * IS; min/max of the per-row rounded values are order-independent
    * (no float-sum mean anywhere). One scan, O(labels) output. */
  def qEmbedNormAudit(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .withColumn("n2", sqNorm("embedding"))
      .withColumn("norm", round(sqrt(col("n2")), 4))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(col("n2") === 0.0d, lit(1))).as("n_zero"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  private lazy val qEmbedNormAuditSql =
    s"""WITH n AS (
       |  SELECT label, ${dotSql("embedding", "embedding")} AS n2
       |  FROM embeddings)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(count(*) FILTER (n2 = 0.0) AS BIGINT) AS n_zero,
       |  min(round(sqrt(n2), 4)) AS min_norm,
       |  max(round(sqrt(n2), 4)) AS max_norm
       |FROM n GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_norm_audit" -> (qEmbedNormAudit _),
    "q_label_centroids" -> (qLabelCentroids _),
    "q_ndcg"          -> (qNdcg _),
    "q_scalar_quant"   -> (qScalarQuant _),
    "q_mmr_rerank"     -> (qMmrRerank _),
    "q_hybrid_search"  -> (qHybridSearch _),
    "q_contrastive_pairs" -> (qContrastivePairs _),
    "q_label_noise"    -> (qLabelNoise _),
    "q_maxsim"         -> (qMaxsim _),
    "q_mutual_info"    -> (qMutualInfo _),
    "q_pq_ann"         -> (qPqAnn _),
    "q_embed_filtered" -> (qEmbedFiltered _),
    "q_embed_ann_mp"  -> (qEmbedAnnMp _),
    "q_embed_ivf2"    -> (qEmbedIvf2 _),
    "q_embed_topk"    -> (qEmbedTopk _),
    "q_embed_ann"     -> (qEmbedAnn _),
    "q_knn_classify"  -> (qKnnClassify _),
    "q_embed_neardup" -> (qEmbedNeardup _),
    "q_embed_ivf"     -> (qEmbedIvf _),
    "q_embed_buckets" -> (qEmbedBuckets _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_ann_recall"    -> (qAnnRecall _))

  val oracle: Map[String, String] = Map(
    "q_label_centroids" -> qLabelCentroidsSql,
    "q_ndcg"          -> qNdcgSql,
    "q_scalar_quant"   -> qScalarQuantSql,
    "q_mmr_rerank"     -> qMmrRerankSql,
    "q_hybrid_search"  -> qHybridSearchSql,
    "q_contrastive_pairs" -> qContrastivePairsSql,
    "q_label_noise"    -> qLabelNoiseSql,
    "q_maxsim"         -> qMaxsimSql,
    "q_mutual_info"    -> qMutualInfoSql,
    "q_pq_ann"         -> qPqAnnSql,
    "q_embed_filtered" -> qEmbedFilteredSql,
    "q_embed_ann_mp"  -> qEmbedAnnMpSql,
    "q_embed_ivf2"    -> qEmbedIvf2Sql,
    "q_embed_norm_audit" -> qEmbedNormAuditSql,
    "q_embed_topk"    -> qEmbedTopkSql,
    "q_embed_ann"     -> qEmbedAnnSql,
    "q_knn_classify"  -> qKnnClassifySql,
    "q_embed_neardup" -> qEmbedNeardupSql,
    "q_embed_ivf"     -> qEmbedIvfSql,
    "q_embed_buckets" -> qEmbedBucketsSql,
    "q_semantic_dedup" -> qSemanticDedupSql,
    "q_ann_recall"    -> qAnnRecallSql)
}
