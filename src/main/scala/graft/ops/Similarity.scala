package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Embedding similarity search (north-star extensions): brute-force cosine
  * top-k as the exact baseline, all-pairs near-dup, and a bucketed LSH
  * variant as the sub-linear scale path.
  *
  * Scale design:
  *  - Brute force broadcasts the (small) query set against the corpus:
  *    one corpus scan, no corpus shuffle, per-partition top-k via window.
  *    At 100 TB this is the right *exact* plan when queries are few.
  *  - Random-hyperplane LSH (`annLshBucketed`) reduces each vector to a
  *    sign-bit signature; only same-bucket vectors are compared. Buckets
  *    are an equi-join key → shuffle on bucket id, linear in corpus size.
  *  - Cosine math is done in double precision element-by-element
  *    (left-to-right fold) and rounded to 6 decimals so both engines
  *    produce the same value; ordering is on the *rounded* value with a
  *    unique id tiebreaker.
  */
object Similarity {

  /** Left-to-right double-precision dot product of two float vectors —
    * the native codegen'd expression (graft.functions.FloatVectorDot);
    * bit-identical to the declarative zip_with/aggregate fold it replaced,
    * ~20× faster on the all-pairs workload. Built with `call_function`, not a
    * string round-trip through the SQL parser, so arbitrary child
    * expressions (slices, literals, nested calls) compose safely. Requires
    * GraftFunctions.register (each query entry calls it, idempotent). */
  private[ops] def dot(a: Column, b: Column): Column =
    call_function("graft_vec_dot", a, b)

  private[ops] def sqNorm(a: Column): Column = dot(a, a)

  private[ops] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(sqNorm(a)) * sqrt(sqNorm(b)))

  /** Exact brute-force cosine top-5 per query (queries = every 50th id).
    * Corpus side is scanned once; the query side is broadcast. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val q = em.filter(pmod(col("vec_id"), lit(50L)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = em.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    // Bounded-heap top-k (native TopKPerGroup node) BEFORE the rank
    // window, as in annIvf: the window formulation local-sorts the whole
    // queries × corpus score stream — 4·10⁹ rows at sf100 spilled ~50 GB
    // through UnsafeExternalSorter and exhausted the box's disk (r14
    // campaign). The heap keeps 5 per query per partition (O(n log k),
    // no sort buffer); (cos_sim desc, vec_id) is a total order within a
    // query, so the kept rows are bit-identical and the cheap window
    // after runs over ≤ 5 rows per query.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("query_id"),
        Seq(("cos_sim", true), ("vec_id", false)), 5)
      .withColumn("rnk", row_number().over(w))
      .orderBy(col("query_id"), col("rnk"))
  }

  val cosineTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS sq
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb, sq AS q_sq
      |  FROM e WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_sum(list_transform(range(1, len(e.embedding)+1),
      |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |      / (sqrt(q.q_sq) * sqrt(e.sq)), 6) AS cos_sim
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT query_id, vec_id, cos_sim, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** All-pairs embedding near-dup: top 20 most-similar distinct pairs.
    * Quadratic — the exact tier; `annLshBucketed` is the scale tier. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), sqNorm(col("embedding")).as("sq"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (sqrt(col("a.sq")) * sqrt(col("b.sq"))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("d1"), col("d2"))
      .limit(20)
  }

  val embeddingNearDupSql: String =
    """WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS sq
      |  FROM embeddings)
      |SELECT a.vec_id AS d1, b.vec_id AS d2,
      |  round(list_sum(list_transform(range(1, len(a.embedding)+1),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(a.sq) * sqrt(b.sq)), 6) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |ORDER BY cos_sim DESC, d1, d2 LIMIT 20""".stripMargin

  /** Hot-bucket guard for the ANN tier (mirrored in the oracle SQL so the
    * semantic is portable): buckets above this size are excluded from
    * pairing, bounding per-bucket work at O(cap²). Max bucket here is 31
    * at sf0.1; at larger corpora the plane count (bucket space 2^planes)
    * is what scales occupancy down ([[lshPlanesFor]] — r17), the cap only
    * guards adversarial pileup (e.g. a zero-vector flood all landing in
    * bucket 0). */
  private val AnnBucketCap = 1000

  /** Corpus-scaled sign-LSH plane count — r17, the FOURTH instance of the
    * fixed-capacity-vs-scaling-regime class (simhash r11, SemDeDup k r11
    * + cluster cap r17, minhash bucket cap r16): a fixed 8 planes gives
    * 2^8 = 256 buckets forever, so mean occupancy N/256 crosses the
    * 1000-member hot-bucket guard at N ≈ 256k — beyond that, on
    * occupancy-typical data, EVERY organic bucket trips the guard and
    * the ANN/kNN operators silently return empty neighbor sets, with
    * the twin mirroring the loss (on the sign-degenerate synthetic
    * corpus the measured effect is partial — SCALE_r17 sf100 census:
    * 43% more vectors paired under the scaled count).
    * Policy: enough planes that mean occupancy ≤ 500, i.e. the smallest
    * p with 2^p ≥ ⌈N/500⌉, floored at the historical 8 (gate SFs have
    * occupancy ≪ 500, so their outputs are byte-identical to pre-r17).
    * The formula is INTEGER-exact in both engines — bit width of
    * (⌈N/500⌉ − 1), no IEEE log2 near power-of-two boundaries: Scala
    * `64 - numberOfLeadingZeros`, DuckDB `LENGTH(bin(·))`
    * ([[lshPlanesSqlP]]). Pinned Scala↔SQL in
    * [[graft.ops.ScalePolicySpec]]. */
  private[ops] def lshPlanesFor(n: Long): Int = {
    val m = (n + 499) / 500
    val w =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(8, w)
  }

  /** Oracle-side twin of [[lshPlanesFor]] — same integer arithmetic. */
  private[ops] val lshPlanesSqlP: String =
    "GREATEST(8, CASE WHEN ((SELECT COUNT(*) FROM embeddings) + 499) // 500 <= 1" +
      " THEN 0 ELSE LENGTH(bin(CAST((((SELECT COUNT(*) FROM embeddings) + 499)" +
      " // 500) - 1 AS BIGINT))) END)"

  /** Approximate NN via sign-bit LSH. Hyperplanes are the first
    * [[lshPlanesFor]] corpus vectors (deterministic, data-derived — no
    * RNG so the result is reproducible; 8 at the gate SFs, scaling with
    * log₂N so bucket occupancy stays ~500). Signature = p sign bits of
    * plane dot products; only same-signature vectors are compared; top-3
    * neighbors per query. Oracle-checked: the bucket assignment is pure
    * double arithmetic (left-fold dot products, proven bit-identical
    * across engines by the `sim_cosine_topk` twin) and the plane count
    * is integer-derived from the same corpus count, so DuckDB reproduces
    * the exact buckets, pairing, and ranking. */
  def annLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val p = lshPlanesFor(
      graft.ops.IndexMemo.value(spark, dir, "emb_count")(em.count()))
    val planes = em.filter(col("vec_id") < p)
      .select(col("vec_id").as("plane_id"), col("embedding").as("plane"))
    // signature per vector: p = lshPlanesFor(N) sign bits packed into a long
    val sigs = em.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("embedding"),
        when(dot(col("embedding"), col("plane")) >= 0,
          expr("shiftleft(1L, cast(plane_id as int))")).otherwise(0L).as("bit"))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(sum(col("bit")).as("bucket"))
      // persisted: the hot-bucket guard and both self-join sides read it,
      // and the signature pass (p broadcast dot products per vector) is
      // the expensive part worth computing exactly once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = sigs.groupBy(col("bucket")).agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > AnnBucketCap).select(col("bucket"))
    // broadcast explicitly: hot is ≤ rows/cap entries by construction, and
    // without the hint this anti-join is a plan-time sort-merge (AQE's
    // runtime broadcast switch must not be load-bearing)
    val capped = sigs.join(broadcast(hot), Seq("bucket"), "left_anti")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        round(cosine(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("query_id"), col("rnk"))
  }

  val annLshBucketedSql: String =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS sq
      |  FROM embeddings),
      |planes AS (SELECT vec_id AS plane_id, embedding AS plane
      |  FROM embeddings WHERE vec_id < ($lshPlanesSqlP)),
      |bits AS (
      |  SELECT e.vec_id,
      |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.plane[i] AS DOUBLE))) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(p.plane_id AS INT))
      |      ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM e, planes p),
      |sigs AS (
      |  SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket FROM bits GROUP BY vec_id
      |  QUALIFY COUNT(*) OVER (PARTITION BY CAST(SUM(bit) AS BIGINT)) <= $AnnBucketCap),
      |pairs AS (
      |  SELECT sa.vec_id AS query_id, sb.vec_id AS vec_id,
      |    round(list_sum(list_transform(range(1, len(ea.embedding)+1),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      |      / (sqrt(ea.sq) * sqrt(eb.sq)), 6) AS cos_sim
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.bucket = sb.bucket AND sa.vec_id <> sb.vec_id
      |  JOIN e ea ON ea.vec_id = sa.vec_id
      |  JOIN e eb ON eb.vec_id = sb.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM pairs)
      |SELECT query_id, vec_id, cos_sim, rnk FROM ranked
      |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  private val KnnK = 3 // neighbors per vector in the kNN graph

  /** Mutual-kNN clustering — the GRAPH-based embedding-clustering
    * pipeline next to [[graft.ops.Dedup.semantic]]'s centroid (k-means)
    * tier: build the k-nearest-neighbor graph over the WHOLE corpus via
    * the LSH buckets (every vector is a query of its own bucket), keep
    * only MUTUAL edges (a ∈ kNN(b) ∧ b ∈ kNN(a) — the standard
    * noise-robust sparsification), and read off connected components as
    * clusters. Emitted as the cluster-size histogram.
    *
    * Scale shape: the signature pass is one corpus projection; candidate
    * pairing is the capped bucket equi-join (linear, hot-bucket-guarded);
    * the kNN cut bounds the graph at k·N edges; the mutual filter is a
    * key-only self equi-join of that bounded edge list; and components
    * run over the mutual subset — O(edges) state, diameter-bounded by
    * the CC dispatcher's three implementations. The DuckDB twin
    * re-derives buckets, neighbors, mutuality, and components (recursive
    * CTE) from raw floats. */
  def knnGraphClusters(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    // corpus-scaled plane count — see lshPlanesFor (fixed 8 planes let
    // mean bucket occupancy cross the hot-bucket guard past N ~ 256k)
    val p = lshPlanesFor(
      graft.ops.IndexMemo.value(spark, dir, "emb_count")(em.count()))
    val planes = em.filter(col("vec_id") < p)
      .select(col("vec_id").as("plane_id"), col("embedding").as("plane"))
    val sigs = em.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("embedding"),
        when(dot(col("embedding"), col("plane")) >= 0,
          expr("shiftleft(1L, cast(plane_id as int))")).otherwise(0L).as("bit"))
      .groupBy(col("vec_id"), col("embedding"))
      .agg(sum(col("bit")).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = sigs.groupBy(col("bucket")).agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > AnnBucketCap).select(col("bucket"))
    val capped = sigs.join(broadcast(hot), Seq("bucket"), "left_anti")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(cosine(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    // persisted: both sides of the mutuality self-join read the kNN cut
    val knn = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK).select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mutual = knn.as("x").join(knn.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src") &&
          col("x.src") < col("x.dst"))
      .select(col("x.src").as("d1"), col("x.dst").as("d2"))
    Dedup.connectedComponentsFromPairs(mutual)
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("cluster_size"),
        expr("n_docs div cluster_size").as("n_clusters"), col("n_docs"))
      .sortSmall(col("cluster_size"))
  }

  /** Oracle twin: buckets, neighbors, mutual edges and components
    * re-derived in SQL (recursive CTE over the mutual edge list).
    * mutual/edges carry the same AS MATERIALIZED fence as the CC twin
    * (Dedup.connectedComponentsSql): unfenced, DuckDB inlines the whole
    * bucket-join/kNN derivation into the recursive plan and re-runs it
    * per closure iteration. */
  val knnGraphClustersSql: String =
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS sq
      |  FROM embeddings),
      |planes AS (SELECT vec_id AS plane_id, embedding AS plane
      |  FROM embeddings WHERE vec_id < ($lshPlanesSqlP)),
      |bits AS (
      |  SELECT e.vec_id,
      |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.plane[i] AS DOUBLE))) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(p.plane_id AS INT))
      |      ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM e, planes p),
      |sigs AS (
      |  SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket FROM bits GROUP BY vec_id
      |  QUALIFY COUNT(*) OVER (PARTITION BY CAST(SUM(bit) AS BIGINT)) <= $AnnBucketCap),
      |pairs AS (
      |  SELECT sa.vec_id AS src, sb.vec_id AS dst,
      |    round(list_sum(list_transform(range(1, len(ea.embedding)+1),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      |      / (sqrt(ea.sq) * sqrt(eb.sq)), 6) AS cos_sim
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.bucket = sb.bucket AND sa.vec_id <> sb.vec_id
      |  JOIN e ea ON ea.vec_id = sa.vec_id
      |  JOIN e eb ON eb.vec_id = sb.vec_id),
      |knn AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      ROW_NUMBER() OVER (PARTITION BY src
      |                         ORDER BY cos_sim DESC, dst) AS rnk
      |    FROM pairs) t WHERE rnk <= $KnnK),
      |mutual AS MATERIALIZED (
      |  SELECT x.src AS d1, x.dst AS d2 FROM knn x
      |  JOIN knn y ON x.src = y.dst AND x.dst = y.src
      |  WHERE x.src < x.dst),
      |edges AS MATERIALIZED (
      |  SELECT d1, d2 FROM mutual
      |  UNION SELECT d2, d1 FROM mutual
      |  UNION SELECT d1, d1 FROM mutual
      |  UNION SELECT d2, d2 FROM mutual),
      |reach(v, r) AS (
      |  SELECT d1 AS v, d2 AS r FROM edges
      |  UNION
      |  SELECT e2.d1 AS v, reach.r
      |  FROM edges e2 JOIN reach ON reach.v = e2.d2),
      |comp AS (SELECT v, MIN(r) AS canonical_id FROM reach GROUP BY v),
      |sized AS (
      |  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
      |SELECT cluster_size,
      |  CAST(COUNT(*) // cluster_size AS BIGINT) AS n_clusters,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM comp JOIN sized USING (canonical_id)
      |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  private val IvfCells = 8  // pinned k for the TUNING artifacts (recall/inertia curves)
  private[ops] val IvfRounds = 2 // FIXED Lloyd rounds — determinism over convergence
  private[ops] val IvfProbe = 2  // cells probed per query

  /** Corpus-scaled cell count for the PRODUCTION IVF operator:
    * nlist = max(8, ⌈√N⌉) — the standard IVF sizing (FAISS guideline is
    * nlist ∝ √N), keeping cell size ≈ √N so per-query probe cost is
    * O(probe·√N) instead of O(probe·N/k_fixed). A FIXED k is a scale
    * bug of the same class as the simhash cap: with queries ∝ N and
    * cells of size N/8, total rerank work is N²/400 — measured 36.8×
    * on a 10× corpus (sf1 → sf10) before this change. Both engines
    * derive k from the same corpus count via IEEE double sqrt/ceil
    * ([[ivfCellsSqlK]] is the oracle-side twin), so index construction
    * stays hash-checkable at every SF. Seeds are the `vec_id < k`
    * prefix, which requires k ≤ the dense original-id block; √N grows
    * far slower than N, so the prefix always exists. The count is
    * parquet-metadata-only. */
  private[ops] def ivfCellsFor(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Oracle-side twin of [[ivfCellsFor]] — DuckDB evaluates the same
    * max(8, ceil(sqrt(count))) with the same IEEE semantics. */
  private[ops] val ivfCellsSqlK: String =
    "GREATEST(8, CAST(ceil(sqrt((SELECT COUNT(*) FROM embeddings))) AS BIGINT))"

  // ---- shared deterministic Lloyd trainer (IVF ANN tier + SemDeDup tier) ----

  /** Assignment score ‖c‖² − 2·v·c ranks cells identically to the true
    * squared distance (‖v‖² is constant per vector). ‖c‖² is folded
    * left-to-right on the driver — the identical IEEE operation sequence
    * as the in-plan fold it replaces, so results stay bit-equal to the
    * DuckDB twin. The dot itself is the codegen'd FloatDoubleDot
    * expression (same element order and widening as the declarative
    * aggregate(zip_with(...)) — which, being a higher-order function,
    * ran INTERPRETED in this per-row × per-cell hot loop). */
  private[ops] def cellScore(emb: Column, c: (Int, Seq[Double])): Column = {
    val csq = c._2.foldLeft(0.0)((acc, x) => acc + x * x)
    lit(csq) - lit(2.0) * call_function("graft_vec_dot_fd", emb, typedLit(c._2))
  }

  private[ops] def scoreStructs(cents: Seq[(Int, Seq[Double])])(emb: Column): Seq[Column] =
    cents.map(c => struct(cellScore(emb, c).as("s"), lit(c._1).as("c")))

  /** array_min over (score, cid) structs == ORDER BY score, cid LIMIT 1:
    * struct ordering is lexicographic, so the cid tiebreak is preserved. */
  private[ops] def nearestCid(cents: Seq[(Int, Seq[Double])])(emb: Column): Column =
    array_min(array(scoreStructs(cents)(emb): _*)).getField("c")

  /** Deterministic fixed-round Lloyd: cells seeded from the first k corpus
    * vectors, `rounds` refinement passes, element-wise floor-quantized-exact
    * centroid means. The quantizer state (k × dim doubles, constant-sized
    * by construction) lives on the DRIVER between rounds — the same shape
    * as MLlib's KMeans, which collects centers every Lloyd round. That
    * makes cell assignment a NARROW projection: per row, an `array_min`
    * over k inline (score, cid) structs. Per round the only shuffle is the
    * centroid-mean aggregation, which map-side-combines to k × dim
    * partials. No RNG anywhere: same corpus ⇒ same centroids. */
  private[ops] def lloydCentroids(em: DataFrame, k: Int, rounds: Int): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType => DD}
    var cents: Seq[(Int, Seq[Double])] =
      em.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cid"),
          expr("transform(embedding, x -> cast(x as double))").as("centroid"))
        .collect().toSeq
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    for (_ <- 0 until rounds) {
      // nearestCid must live in its own projection: a select that also
      // carries a generator goes through the Generate rewrite, which
      // drops nested struct-field aliases (FIELD_NOT_FOUND on `c`).
      // The k×dim per-dimension means come back as ROWS and assemble into
      // centroid arrays ON THE DRIVER (k·dim values, constant-sized) —
      // the previous in-plan collect_list/sort_array assembly cost a
      // second full shuffle per Lloyd round just to build 8 arrays.
      //
      // Mean arithmetic is floor(x·1e8)-quantized INTEGER summation, not
      // engine-native float→DECIMAL casts: the r13 sf10 campaign showed
      // Spark and DuckDB round float→DECIMAL(28,8) ties in different
      // directions on this grid-valued corpus (507/512 round-1 means off
      // by ~1e-10, flipping a handful of floor(d2·1e4) rows and the
      // inertia census with them). floor over identical doubles has no
      // tie to disagree on, and BIGINT sums are order-independent, so
      // the means are bit-identical across engines at every SF.
      cents =
        em.select(nearestCid(cents)(col("embedding")).as("cid"), col("embedding"))
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg((sum(floor(col("x").cast(DD) * lit(1e8))).cast(DD) /
            lit(1e8) / count(lit(1))).as("m"))
          .collect().toSeq
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
          .toSeq.sortBy(_._1)
    }
    cents
  }

  /** The quantizer state as ONE plan literal: array<struct<cid, csq,
    * centroid>>, csq folded left-to-right on the driver — the identical
    * IEEE sequence [[cellScore]] inlines, so scores are bit-equal either
    * way. One serialized object instead of k expression nodes × dim
    * literal doubles, so plan size and codegen time are independent of
    * nlist — the prerequisite for nlist = √N. Superseded on the hot
    * paths by [[broadcastQuantizer]]/[[nearestCellsCol]] (the literal
    * still rides in every serialized plan and task binary; the broadcast
    * handle does not) — retained for the parity spec. */
  private[ops] def centroidsLit(cents: Seq[(Int, Seq[Double])]): Column =
    typedLit(cents.map { case (cid, c) =>
      (cid, c.foldLeft(0.0)((acc, x) => acc + x * x), c)
    })

  /** The decoded quantizer payload, csq folded left-to-right on the
    * driver — the identical IEEE sequence [[centroidsLit]]/[[cellScore]]
    * embed, so scores stay bit-equal across all three forms. */
  private[ops] def quantizerOf(
      cents: Seq[(Int, Seq[Double])]): graft.functions.Quantizer =
    new graft.functions.Quantizer(
      cents.map(_._1).toArray,
      cents.map(_._2.foldLeft(0.0)((acc, x) => acc + x * x)).toArray,
      cents.map(_._2.toArray).toArray)

  /** Ship the quantizer to executors ONCE via torrent broadcast. With
    * nlist = √N the quantizer grows with the corpus; as a `typedLit` it
    * rode inside every serialized plan AND every task binary (the last
    * named scale-killer). As a broadcast the plan carries an 8-byte
    * handle — task-binary and plan size are O(1) in nlist. */
  private[ops] def broadcastQuantizer(em: DataFrame,
      cents: Seq[(Int, Seq[Double])]): org.apache.spark.broadcast.Broadcast[graft.functions.Quantizer] =
    em.sparkSession.sparkContext.broadcast(quantizerOf(cents))

  /** The p nearest cells of `emb` against a broadcast quantizer — the
    * broadcast-backed twin of `graft_nearest_cells(emb, lit, p)`
    * (bit-identical arithmetic and tie order; shared probe loop in
    * NearestCells.rank). Built via the DatasetShim column bridge: the
    * Broadcast handle is constructor state, not an Expression child, so
    * it can't ride through `call_function`. */
  private[ops] def nearestCellsCol(
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.Quantizer],
      emb: Column, p: Int): Column =
    org.apache.spark.sql.graft.DatasetShim.column(
      graft.functions.NearestCellsBcast(
        org.apache.spark.sql.graft.DatasetShim.expression(emb), bc, p))

  /** Nearest-cell assignment as a NARROW projection: per row, one
    * codegen'd k·dim loop (graft.functions.NearestCellsBcast with p=1) —
    * no row explosion, no exchange, and the quantizer arrives by
    * broadcast so the plan is O(1) in nlist. Tie-breaks match the
    * oracle's `ROW_NUMBER() ORDER BY score, cid`. An earlier
    * broadcast-crossjoin formulation was scale-safe in plan size but
    * materialized N×k joined rows carrying the embedding payload —
    * 27 GB/pass at 500k vectors × 448 cells; this form is pure flops. */
  private[ops] def assignCells(em: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    assignCellsBc(em, broadcastQuantizer(em, cents))

  /** [[assignCells]] against an already-broadcast quantizer — lets one
    * broadcast serve several projections of the same index (annIvf uses
    * it for both the corpus assignment and the query probes). */
  private[ops] def assignCellsBc(em: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.Quantizer]): DataFrame =
    em.select(col("vec_id"), col("embedding"),
      element_at(nearestCellsCol(bc, col("embedding"), 1), 1).as("cid"))

  /** [[lloydCentroids]] with join-based assignment rounds — same seeds,
    * same floor-quantized means, same tie-breaks, but the per-round argmin
    * runs through [[assignCells]] instead of k inlined literal structs,
    * so nlist can scale with the corpus (√N) without the plan growing
    * with k. Returns the same driver-side (cid, centroid) list. */
  private[ops] def lloydCentroidsScaled(em: DataFrame, k: Int,
      rounds: Int): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType => DD}
    val spark = em.sparkSession
    var cents: Seq[(Int, Seq[Double])] =
      em.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cid"),
          expr("transform(embedding, x -> cast(x as double))").as("centroid"))
        .collect().toSeq
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    for (_ <- 0 until rounds) {
      cents = assignCells(em, cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(floor(col("x").cast(DD) * lit(1e8))).cast(DD) /
          lit(1e8) / count(lit(1))).as("m"))
        .collect().toSeq
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
        .toSeq.sortBy(_._1)
    }
    cents
  }

  /** Oracle-side twin of graft_vec_dot_fd: DuckDB's native
    * `list_dot_product` — a sequential multiply-accumulate in element
    * order with float→double widening, i.e. the identical IEEE chain the
    * engine's left-fold runs. Verified bit-identical (`<>` on raw
    * doubles, zero mismatches) against the explicit fold form
    * `list_sum(list_transform(range(1, len(e)+1), i -> CAST(e[i] AS
    * DOUBLE) * c[i]))` over corpus × 64 mean-valued centroids at sf10
    * (12.8 M pairs; `tools/probe_dot_parity.py` re-runs the check), and
    * driver-grade (rows+schema+hash) on every Lloyd-chain twin at
    * sf0.01/sf0.1. The fold form it replaces is 17× slower (interpreted
    * per-element lambda vs a vectorized loop) and was the sf100
    * frontier's dominant term: the Lloyd twins score corpus × √N cells
    * per round, 2.8 G rows at sf100.
    *
    * The second operand is CAST to DOUBLE[] in the emitted SQL: on the
    * Lloyd centroid lists (already DOUBLE[]) the cast binds away, and on
    * FLOAT[] pair sides it forces the double accumulation path —
    * list_dot_product over two raw FLOAT[] accumulates in FLOAT and
    * diverges from the fold (measured: 79,600/80,000 mismatches),
    * while FLOAT[] × DOUBLE[] matches it exactly (0 mismatches on the
    * same pairs). */
  private[ops] def sqlDot(e: String, c: String): String =
    s"list_dot_product($e, CAST($c AS DOUBLE[]))"

  /** Oracle-side twin of [[lloydCentroids]]: the `cents0 … cents<rounds>`
    * CTE chain (unrolled fixed-round Lloyd with identical arithmetic).
    * Callers append their own CTEs referencing `cents<rounds>`. */
  private[ops] def lloydCtesSql(k: Any, rounds: Int): String =
    lloydCtesSql(k, rounds, "embeddings")

  /** [[lloydCtesSql]] trained on an arbitrary source CTE/table `src` —
    * the upsert tier trains on the pre-batch base corpus. */
  private[ops] def lloydCtesSql(k: Any, rounds: Int, src: String): String = {
    // argmin by (distance, cid) as a TWO-PASS grouped min — MIN(d) per
    // vector, equality-rejoin, MIN(cid) among ties: identical
    // lexicographic (d, cid) semantics to the MIN(struct) form it
    // replaces, but with 8-byte per-group aggregate states. DuckDB's
    // MIN over a STRUCT allocates ~40 KB of state PER GROUP (measured:
    // 31 GB for an 800 k-group encode at sf10 vs 188 MB two-pass, same
    // result) — the struct form is what OOM-killed the recall twin at
    // 125 GB. The rejoin's float equality is safe: d is a pure row-wise
    // expression, so both branches see bit-identical values.
    def centsCte(n: Int, prev: String): String =
      s"""dist$n AS (
         |  SELECT e.vec_id, c.cid,
         |    c.csq - 2 * ${sqlDot("e.embedding", "c.centroid")} AS d
         |  FROM $src e, $prev c),
         |assign$n AS (
         |  SELECT am.vec_id, e.embedding, am.cid
         |  FROM (SELECT t.vec_id, MIN(t.cid) AS cid
         |        FROM dist$n t
         |        JOIN (SELECT vec_id, MIN(d) AS dmin
         |              FROM dist$n GROUP BY vec_id) mn
         |          ON t.vec_id = mn.vec_id AND t.d = mn.dmin
         |        GROUP BY t.vec_id) am
         |  JOIN $src e ON e.vec_id = am.vec_id),
         |dims$n AS (
         |  SELECT cid, unnest(embedding) AS x,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM assign$n),
         |means$n AS (
         |  SELECT cid, pos,
         |    CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e8) AS BIGINT)) AS DOUBLE)
         |      / 1e8 / COUNT(*) AS m
         |  FROM dims$n GROUP BY cid, pos),
         |cents$n AS (
         |  SELECT cid, centroid,
         |    list_sum(list_transform(centroid, x -> x * x)) AS csq
         |  FROM (SELECT cid, list(m ORDER BY pos) AS centroid
         |        FROM means$n GROUP BY cid) t)""".stripMargin
    val roundCtes = (1 to rounds)
      .map(r => centsCte(r, if (r == 1) "cents0" else s"cents${r - 1}"))
      .mkString(",\n")
    s"""cents0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid,
       |    list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS csq
       |  FROM $src WHERE vec_id < $k),
       |$roundCtes""".stripMargin
  }

  /** Oracle-side final cell assignment against `cents<rounds>` — the twin
    * of `nearestCid(cents)` applied to the whole corpus, carrying the
    * squared norm for downstream cosine math. */
  /** Cell assignment as a GROUPED lexicographic-min instead of a
    * ROW_NUMBER window: the window form materializes and SORTS
    * corpus × k rows (90 M at sf10, the oracle's spill driver); the
    * grouped form hash-aggregates straight to one row per vector.
    * Identical tie semantics — (d, cid) mirrors `ORDER BY d, cid` with
    * rnk = 1. Two-pass MIN(d) + equality-rejoin + MIN(cid), not
    * MIN(struct): see lloydCtesSql for the measured per-group-state
    * pathology the struct form hits in DuckDB. */
  private[ops] def lloydCellsSql(rounds: Int): String =
    s"""distf AS (
       |  SELECT e.vec_id, c.cid,
       |    c.csq - 2 * ${sqlDot("e.embedding", "c.centroid")} AS d
       |  FROM embeddings e, cents$rounds c),
       |cells AS (
       |  SELECT am.vec_id, e.embedding, am.cid,
       |    list_sum(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
       |  FROM (SELECT t.vec_id, MIN(t.cid) AS cid
       |        FROM distf t
       |        JOIN (SELECT vec_id, MIN(d) AS dmin
       |              FROM distf GROUP BY vec_id) mn
       |          ON t.vec_id = mn.vec_id AND t.d = mn.dmin
       |        GROUP BY t.vec_id) am
       |  JOIN embeddings e ON e.vec_id = am.vec_id)""".stripMargin

  /** IVF (inverted-file) ANN — the cell-probing scale path next to the
    * sign-bit LSH tier: a deterministic k-means coarse quantizer (cells
    * seeded from the first k corpus vectors, FIXED Lloyd rounds,
    * element-wise floor-quantized-exact centroid means) partitions the
    * corpus into cells; each query probes its `IvfProbe` nearest cells
    * and exact-reranks only those members — at 100 TB the corpus is
    * stored partitioned by cell, so a query touches probe/k of the data.
    * Every arithmetic step (left-fold dots, decimal means, tie-broken
    * argmins) is reproduced verbatim by the DuckDB oracle, making the
    * whole index construction + search hash-checkable. No RNG anywhere:
    * same corpus ⇒ same index ⇒ same answers.
    *
    * The quantizer state (k × dim doubles, constant-sized by
    * construction) lives on the DRIVER between rounds — the same shape as
    * MLlib's KMeans, which collects centers every Lloyd round. That makes
    * cell assignment a NARROW projection: per row, an `array_min` over k
    * inline (score, cid) structs — vs the previous broadcast-crossjoin +
    * per-vector window, which shuffled the whole corpus once per round
    * (3× total) just to take an 8-row argmin. Per round the only shuffle
    * left is the centroid-mean aggregation, which map-side-combines to
    * k × dim partials. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)

    // Corpus-scaled nlist (√N cells of ≈√N members — see ivfCellsFor).
    // The quantizer state is still k×dim driver doubles (bounded by
    // construction) but ships to executors ONCE by torrent broadcast —
    // one handle serves both the corpus assignment and the query probes,
    // and both rankings are narrow codegen'd k·dim loops
    // (graft.functions.NearestCellsBcast) — no plan-riding literal, no
    // crossjoin row explosion, no exchange.
    // Trained quantizer memoized per (session, dir, k, rounds) — the
    // IDENTICAL training (same seeds, same √N nlist, same 2 rounds) also
    // backs dedup_semantic's SemDeDup clustering, so one session trains
    // the production quantizer once and every consumer (IVF query, the
    // semantic dedup, reps of either) reuses the k×dim driver state.
    val k = ivfCellsFor(
      IndexMemo.value(spark, dir, "emb_count")(em.count()))
    val cents = IndexMemo.value(spark, dir, s"lloydScaled:$k:$IvfRounds") {
      lloydCentroidsScaled(em, k, IvfRounds)
    }
    val bc = broadcastQuantizer(em, cents)

    // Final assignment — narrow, re-derived per consumer from the scan
    // (cheaper than a persist barrier: one projection over the corpus).
    // Squared norms are hoisted into the assignment/probe projections
    // (the oracle's cells.sq / queries.q_sq shape): the rerank touches
    // every member of every probed cell, and when near-dup mass piles
    // replicas into the same cells that is far more pairs than
    // queries + corpus — recomputing both norms per PAIR doubled the
    // rerank flops at sf10.
    val cells = assignCellsBc(em, bc)
      .withColumn("sq", call_function("graft_vec_sqnorm", col("embedding")))
    // Each query probes its IvfProbe nearest cells — NearestCellsBcast
    // returns them in (score, cid) rank order, the oracle's prnk selection.
    val probes = em.filter(pmod(col("vec_id"), lit(50L)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        call_function("graft_vec_sqnorm", col("embedding")).as("q_sq"),
        explode(nearestCellsCol(bc, col("embedding"), IvfProbe)).as("cid"))
    // Exact cosine rerank within probed cells; probe side is tiny
    // (queries × IvfProbe) — broadcast it so the corpus never shuffles.
    // Top-3 selection runs through the native bounded-heap TopKPerGroup
    // node, not a window: replica-dense cells make the scored pair count
    // balloon (99.5M pairs at sf10 — 27× the balanced estimate), and the
    // window formulation local-sorts ALL of them (34 s) where the heap
    // keeps 3 per query per partition (O(n log k), no sort buffer). The
    // (cos_sim desc, vec_id) order is total within a query, so the kept
    // rows are bit-identical to the window's ≤3 — the cheap rank window
    // after runs over queries × 3 rows only.
    val scored = broadcast(probes).join(cells, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(call_function("graft_vec_dot", col("q_emb"), col("embedding")) /
          (sqrt(col("q_sq")) * sqrt(col("sq"))), 6).as("cos_sim"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    graft.plans.GraftOps.topKPerGroup(scored, Seq("query_id"),
        Seq(("cos_sim", true), ("vec_id", false)), 3)
      .withColumn("rnk", row_number().over(wr))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Oracle twin: unrolled fixed-round Lloyd with identical arithmetic;
    * k is the same corpus-derived max(8, ⌈√N⌉) the engine computes. */
  val annIvfSql: String = {
    val dot = sqlDot _
    val fin = s"cents$IvfRounds"
    s"""WITH ${lloydCtesSql(ivfCellsSqlK, IvfRounds)},
      |${lloydCellsSql(IvfRounds)},
      |queries AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, sq AS q_sq
      |  FROM cells WHERE vec_id % 50 = 0),
      |probes AS (
      |  SELECT query_id, q_emb, q_sq, cid FROM (
      |    SELECT q.query_id, q.q_emb, q.q_sq, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |        c.csq - 2 * ${dot("q.q_emb", "c.centroid")}, c.cid) AS prnk
      |    FROM queries q, $fin c) t WHERE prnk <= $IvfProbe),
      |reranked AS (
      |  SELECT query_id, vec_id, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cos_sim DESC, vec_id) AS rnk
      |  FROM (
      |    SELECT p.query_id, m.vec_id,
      |      round(${dot("p.q_emb", "m.embedding")}
      |        / (sqrt(p.q_sq) * sqrt(m.sq)), 6) AS cos_sim
      |    FROM probes p JOIN cells m ON m.cid = p.cid
      |    WHERE m.vec_id <> p.query_id) s)
      |SELECT query_id, vec_id, cos_sim, rnk FROM reranked
      |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  private[ops] val UpsertBatchMod = 10L // vec_id % 10 = 0 is "today's batch"

  /** IVF index MAINTENANCE as a first-class query (r19 VERDICT task 7 —
    * the vector-lakehouse shape): a new-vector batch (vec_id ≡ 0 mod
    * [[UpsertBatchMod]], standing in for today's embedding run) merges
    * into the EXISTING inverted file without retraining. The quantizer
    * is trained on the pre-batch BASE corpus only and then FROZEN — the
    * batch is assigned to the frozen cells (one narrow projection, no
    * Lloyd rounds touch it), exactly how FAISS/Milvus-style stores do
    * incremental adds between periodic re-trains. Output is the merged
    * cell DIRECTORY: one row per quantizer cell with the pre-batch
    * census, the batch increment, the merged total, and the batch-id
    * sum (an exact content check on WHICH vectors landed where, not
    * just how many). All-integer output → driver hash-checkable.
    *
    * 100 TB: training reads the base once (bounded driver state, k×dim);
    * the upsert itself is ONE narrow scan of the batch + a cell-keyed
    * census — batch-sized, not corpus-sized. The base census here stands
    * in for the stored index's member counts (a real deployment reads
    * them from the index metadata instead of re-deriving them; the
    * re-derivation keeps the query self-contained and oracle-checkable).
    * Assembly is the r20 join-free union fold. */
  def annIndexUpsert(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val base = em.filter(pmod(col("vec_id"), lit(UpsertBatchMod)) =!= 0)
    val batch = em.filter(pmod(col("vec_id"), lit(UpsertBatchMod)) === 0)
    val k = ivfCellsFor(
      IndexMemo.value(spark, dir, "emb_base_count")(base.count()))
    // frozen quantizer = index state (memoized like the IVF tier's)
    val cents = IndexMemo.value(spark, dir, s"lloydScaledBase:$k:$IvfRounds") {
      lloydCentroidsScaled(base, k, IvfRounds)
    }
    val bc = broadcastQuantizer(em, cents)
    // cell directory from the driver-side quantizer state (k ints — a
    // literal, no job): cells that receive no base or batch member must
    // still emit their row, the lakehouse partition-listing contract
    val dirDf = em.sparkSession.range(1)
      .select(explode(typedLit(cents.map(_._1))).as("cid"),
        lit(0L).as("n_base"), lit(0L).as("n_added"), lit(0L).as("added_id_sum"))
    val baseCensus = assignCellsBc(base, bc)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
      .select(col("cid"), col("n_base"), lit(0L).as("n_added"),
        lit(0L).as("added_id_sum"))
    val addCensus = assignCellsBc(batch, bc)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_added"),
        sum(col("vec_id")).cast("long").as("added_id_sum"))
      .select(col("cid"), lit(0L).as("n_base"), col("n_added"),
        col("added_id_sum"))
    dirDf.unionByName(baseCensus).unionByName(addCensus)
      .groupBy(col("cid"))
      .agg(sum(col("n_base")).cast("long").as("n_base"),
        sum(col("n_added")).cast("long").as("n_added"),
        sum(col("added_id_sum")).cast("long").as("added_id_sum"))
      .select(col("cid"), col("n_base"), col("n_added"),
        (col("n_base") + col("n_added")).as("n_total"), col("added_id_sum"))
      .sortSmall(col("cid"))
  }

  /** Oracle twin: identical Lloyd chain trained on the base CTE, frozen
    * assignment of the batch, merged directory censuses. */
  val annIndexUpsertSql: String = {
    val fin = s"cents$IvfRounds"
    val kSql = "GREATEST(8, CAST(ceil(sqrt(" +
      s"(SELECT COUNT(*) FROM embeddings WHERE vec_id % $UpsertBatchMod <> 0)" +
      ")) AS BIGINT))"
    s"""WITH base AS (
      |  SELECT * FROM embeddings WHERE vec_id % $UpsertBatchMod <> 0),
      |batch AS (
      |  SELECT * FROM embeddings WHERE vec_id % $UpsertBatchMod = 0),
      |${lloydCtesSql(kSql, IvfRounds, "base")},
      |distb AS (
      |  SELECT e.vec_id, c.cid,
      |    c.csq - 2 * ${sqlDot("e.embedding", "c.centroid")} AS d
      |  FROM base e, $fin c),
      |base_cells AS (
      |  SELECT t.vec_id, MIN(t.cid) AS cid
      |  FROM distb t
      |  JOIN (SELECT vec_id, MIN(d) AS dmin FROM distb GROUP BY vec_id) mn
      |    ON t.vec_id = mn.vec_id AND t.d = mn.dmin
      |  GROUP BY t.vec_id),
      |dista AS (
      |  SELECT e.vec_id, c.cid,
      |    c.csq - 2 * ${sqlDot("e.embedding", "c.centroid")} AS d
      |  FROM batch e, $fin c),
      |batch_cells AS (
      |  SELECT t.vec_id, MIN(t.cid) AS cid
      |  FROM dista t
      |  JOIN (SELECT vec_id, MIN(d) AS dmin FROM dista GROUP BY vec_id) mn
      |    ON t.vec_id = mn.vec_id AND t.d = mn.dmin
      |  GROUP BY t.vec_id),
      |bcensus AS (
      |  SELECT cid, COUNT(*) AS n_base FROM base_cells GROUP BY cid),
      |acensus AS (
      |  SELECT cid, COUNT(*) AS n_added, SUM(vec_id) AS added_id_sum
      |  FROM batch_cells GROUP BY cid)
      |SELECT d.cid,
      |  CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
      |  CAST(coalesce(a.n_added, 0) AS BIGINT) AS n_added,
      |  CAST(coalesce(b.n_base, 0) + coalesce(a.n_added, 0) AS BIGINT)
      |    AS n_total,
      |  CAST(coalesce(a.added_id_sum, 0) AS BIGINT) AS added_id_sum
      |FROM (SELECT cid FROM $fin) d
      |LEFT JOIN bcensus b ON b.cid = d.cid
      |LEFT JOIN acensus a ON a.cid = d.cid
      |ORDER BY d.cid""".stripMargin
  }

  // Capacity-literal audit (r13): PqK is a PRECISION/space knob, not a
  // capacity — PQ quality depends on the data DISTRIBUTION, not the
  // corpus count (FAISS ships k=256 per subspace regardless of N), so
  // corpus growth cannot saturate it the way the simhash/IVF/bucket caps
  // saturated: every vector always maps to its nearest code, encode cost
  // stays O(N·k·dim), and the enumerated ADC table is a constant k^M.
  // The recall consequence of the knob is MEASURED, not assumed —
  // sim_ann_recall_eval sweeps k ∈ {4, 8, 16} and ships the
  // recall-vs-cost curve as an oracle-checked artifact every round.
  private[ops] val PqM = 4        // subspaces
  private[ops] val PqSub = 16     // dims per subspace (4 × 16 = 64)
  private[ops] val PqK = 8        // codes per subspace codebook
  private[ops] val PqQueryMod = 50L

  /** Product-quantization ANN with ADC scoring (Jégou/Douze/Schmid,
    * "Product quantization for nearest neighbor search", TPAMI 2011): the
    * vector splits into 4 × 16-dim subvectors, each quantized against an
    * 8-entry per-subspace codebook — 64 floats (256 B) compress to 4
    * code bytes, and queries score against RECONSTRUCTIONS (asymmetric
    * distance computation) without touching raw corpus vectors.
    *
    * Codebooks are seeded from the first k corpus vectors' subvectors —
    * the k-means init step, held FIXED rather than Lloyd-refined: the
    * full deterministic-Lloyd machinery is already exercised and
    * oracle-verified in [[annIvf]]; freezing the codebook here keeps this
    * twin's SQL tractable while the PQ-specific mechanics (subspace
    * split, per-subspace argmin encode, ADC scoring) are all live.
    *
    * The ADC scan is formulated RELATIONALLY: the approximate score
    * depends only on (query, code tuple), and the code space is bounded
    * (k^M = 4096), so the score table is queries × the enumerated code
    * space — a provably bounded cross join built from literals — and the
    * corpus then EQUI-joins on its code tuple. No per-(query, vector) cartesian
    * exists in the plan; at 100 TB the corpus side is a scan of a
    * 4-byte-code column (the 64× compression is the point of PQ),
    * combining naturally with the IVF cell layout (IVF-PQ). Every dot is
    * the same left-fold as the other tiers, so both engines agree
    * bit-for-bit. */
  /** Codebook seeds: first-k corpus vectors, collected once — CONSTANT
    * size (k × dim doubles) whatever the corpus, same fenced pattern as
    * the IVF centroid state. Shared by the PQ query and the recall-eval
    * sweep (which takes a k-prefix per operating point). */
  private[ops] def pqSeeds(em: DataFrame, k: Int): Seq[Seq[Double]] =
    em.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("c"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().toSeq.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq)

  private[ops] def pqCodebook(seeds: Seq[Seq[Double]], k: Int): Seq[Seq[Seq[Double]]] =
    (0 until PqM).map(m => seeds.take(k).map(_.slice(m * PqSub, (m + 1) * PqSub)))

  private def pqSubVec(emb: Column, m: Int): Column =
    slice(emb, m * PqSub + 1, PqSub)

  /** Per-subspace encode: argmin over ‖c‖² − 2·x·c with cid tiebreak
    * (lexicographic struct min — same contract as the IVF assignment). */
  private[ops] def pqCode(cb: Seq[Seq[Seq[Double]]], k: Int)(emb: Column, m: Int): Column = {
    val structs = (0 until k).map { c =>
      val cent = cb(m)(c)
      val csq = cent.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (lit(csq) - lit(2.0) *
          call_function("graft_vec_dot_fd", pqSubVec(emb, m), typedLit(cent))).as("s"),
        lit(c).as("c"))
    }
    array_min(array(structs: _*)).getField("c")
  }

  /** ADC reconstruction-dot term for subspace m against codebook cb. */
  private[ops] def pqAdcTerm(cb: Seq[Seq[Seq[Double]]], m: Int): Column =
    call_function("graft_vec_dot_fd", pqSubVec(col("q_emb"), m),
      element_at(typedLit(cb(m)), col(s"code$m") + 1))


  /** Exact ADC top-k per query WITHOUT materializing corpus × queries
    * (r14, found by the sf100 campaign): the approximate score is a
    * function of (query, code tuple) alone, so the per-VECTOR rank order
    * within one query is (code score desc, vec_id) — and that factors.
    * Per code: member count + the (k+1) smallest member ids (one bounded
    * heap pass over the code table; +1 absorbs the self-exclusion). Per
    * query: rank the ≤ k^M score rows, find the tie-safe score threshold
    * where cumulative member count first reaches k+1 (codes tied at the
    * crossing are all kept, so arbitrary tie order cannot change the
    * keep set), and join ONLY the kept (query, code) rows to the member
    * prefixes. Output volume is queries × (few codes) × (k+1) — linear
    * in corpus for the code pass and in queries for the rest, vs the
    * equi-join-to-corpus formulation whose output is corpus × queries
    * rows (8·10¹⁰ at sf100: the join is cheap per row but the
    * materialized stream is quadratic BY WORKLOAD since the query set
    * here scales with the corpus). Classical ADC pays O(corpus·queries)
    * table LOOKUPS; for top-k the factored plan does strictly less.
    *
    * The census and the member prefixes are MEMOIZED PQ index state
    * (r19, re-run of the r14 A/B under the r18 memo regime):
    * qmod-independent, the same side of the memo line as the code
    * tables, so the per-rep query cost is the queries×4096 score
    * broadcast + the threshold window + one member join — the corpus is
    * not scanned at all once the index is built. The memo TAGS are the
    * eval tier's: pqSeeds is prefix-consistent (first-k corpus vectors),
    * so the k=[[PqK]] codebook — and therefore the census and prefixes —
    * are byte-identical whichever path builds them first, and the ADC
    * query and the recall evals share one checkpoint. The eval-length
    * (AnnEvalTopK+1)-row prefix is a SUPERSET of the k+1 this query
    * needs: members of one code share approx_dot, so rows past the
    * (k+1)-smallest ids are dominated within their code and can never
    * enter the top-k (oracle-checked — same output). */
  private def pqAdcTopKMemo(spark: SparkSession, dir: String,
      codes: => DataFrame, scores: DataFrame,
      codeCols: Seq[String], k: Int): DataFrame = {
    require(k + 1 <= AnnEvalTopK + 1,
      s"memoized member prefixes carry ${AnnEvalTopK + 1} rows; top-$k needs ${k + 1}")
    val counts = IndexMemo.df(spark, dir, s"pq_counts:$PqK") {
      codes.groupBy(codeCols.map(col): _*).agg(count(lit(1)).as("__cnt"))
    }
    val members = IndexMemo.df(spark, dir,
        s"pq_members:$PqK:${AnnEvalTopK + 1}") {
      graft.plans.GraftOps.topKPerGroup(
        codes, codeCols, Seq(("vec_id", false)), AnnEvalTopK + 1)
    }
    val wq = Window.partitionBy(col("query_id"))
    val wcum = wq.orderBy(col("approx_dot").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = scores.join(broadcast(counts), codeCols)
      .withColumn("__before", coalesce(sum(col("__cnt")).over(wcum), lit(0L)))
      .withColumn("__thr", min(when(col("__before") < k + 1,
        col("approx_dot"))).over(wq))
      .filter(col("approx_dot") >= col("__thr"))
      .select((col("query_id") +: col("approx_dot") +: codeCols.map(col)): _*)
    val cand = kept.join(broadcast(members), codeCols)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("approx_dot"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    graft.plans.GraftOps.topKPerGroup(cand, Seq("query_id"),
        Seq(("approx_dot", true), ("vec_id", false)), k)
      .withColumn("rnk", row_number().over(wr))
  }

  def annPqAdc(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val cb = pqCodebook(
      IndexMemo.value(spark, dir, s"pq_seeds:$PqK")(pqSeeds(em, PqK)), PqK)

    val codeCols = (0 until PqM).map(m => s"code$m")
    val codes = em.select(
      col("vec_id") +: (0 until PqM).map(m => pqCode(cb, PqK)(col("embedding"), m).as(s"code$m")): _*)
    val queries = em.filter(pmod(col("vec_id"), lit(PqQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Score table = queries × the ENTIRE code space (k^M = 4096 tuples,
    // enumerated from literals — no corpus pass, no distinct exchange, so
    // the corpus is scanned exactly ONCE, by the encode join below).
    // When queries × k^M outgrows a broadcast, the variant that scores
    // only DISTINCT OBSERVED codes (one extra corpus aggregate) bounds it
    // by the corpus's code diversity instead; same downstream dataflow.
    val base = (0 until PqM - 1).foldLeft(1)((a, _) => a * PqK)
    val allCodes = em.sparkSession.range(0, 1L * base * PqK)
      .select((0 until PqM).map { m =>
        val div = (0 until PqM - 1 - m).foldLeft(1)((a, _) => a * PqK)
        expr(s"cast((id div $div) % $PqK as int)").as(s"code$m")
      }: _*)
    // ADC: reconstruction dot = Σ_m q_m · cb[m][code_m] — a FIXED 4-term
    // add chain (not an aggregate), so the summation order is pinned
    def dm(m: Int): Column = pqAdcTerm(cb, m)
    val scores = broadcast(queries).crossJoin(allCodes)
      .withColumn("approx_dot", round(dm(0) + dm(1) + dm(2) + dm(3), 6))
      .select((col("query_id") +: col("approx_dot") +: codeCols.map(col)): _*)
    pqAdcTopKMemo(spark, dir, codes, scores, codeCols, 3)
      .select(col("query_id"), col("vec_id"), col("approx_dot"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Oracle twin: identical codebook seed, encode argmin, and ADC fold. */
  val annPqAdcSql: String = {
    val dotSub = (m: String, e: String, c: String) =>
      s"""list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> CAST($e[$m * $PqSub + i] AS DOUBLE) * $c[i]))""".stripMargin
    s"""WITH cbm AS (SELECT unnest(range($PqM)) AS m),
      |cb AS (
      |  SELECT cbm.m, e.vec_id AS c,
      |    list_transform(list_slice(e.embedding, cbm.m * $PqSub + 1,
      |      (cbm.m + 1) * $PqSub), x -> CAST(x AS DOUBLE)) AS cent
      |  FROM embeddings e, cbm WHERE e.vec_id < $PqK),
      |cbq AS (
      |  SELECT m, c, cent,
      |    list_sum(list_transform(cent, x -> x * x)) AS csq FROM cb),
      |denc AS (
      |  SELECT e.vec_id, q.m, q.c,
      |    q.csq - 2 * ${dotSub("q.m", "e.embedding", "q.cent")} AS d
      |  FROM embeddings e, cbq q),
      |enc AS (
      |  SELECT t.vec_id, t.m, MIN(t.c) AS code
      |  FROM denc t
      |  JOIN (SELECT vec_id, m, MIN(d) AS dmin
      |        FROM denc GROUP BY vec_id, m) mn
      |    ON t.vec_id = mn.vec_id AND t.m = mn.m AND t.d = mn.dmin
      |  GROUP BY t.vec_id, t.m),
      |codes AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN m = 0 THEN code END) AS code0,
      |    MAX(CASE WHEN m = 1 THEN code END) AS code1,
      |    MAX(CASE WHEN m = 2 THEN code END) AS code2,
      |    MAX(CASE WHEN m = 3 THEN code END) AS code3
      |  FROM enc GROUP BY vec_id),
      |dcodes AS (SELECT DISTINCT code0, code1, code2, code3 FROM codes),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id % $PqQueryMod = 0),
      |scores AS (
      |  SELECT q.query_id, d.code0, d.code1, d.code2, d.code3,
      |    round(${dotSub("0", "q.q_emb", "c0.cent")}
      |        + ${dotSub("1", "q.q_emb", "c1.cent")}
      |        + ${dotSub("2", "q.q_emb", "c2.cent")}
      |        + ${dotSub("3", "q.q_emb", "c3.cent")}, 6) AS approx_dot
      |  FROM q, dcodes d
      |  JOIN cb c0 ON c0.m = 0 AND c0.c = d.code0
      |  JOIN cb c1 ON c1.m = 1 AND c1.c = d.code1
      |  JOIN cb c2 ON c2.m = 2 AND c2.c = d.code2
      |  JOIN cb c3 ON c3.m = 3 AND c3.c = d.code3),
      |ccnt AS (
      |  SELECT code0, code1, code2, code3, COUNT(*) AS cnt
      |  FROM codes GROUP BY 1, 2, 3, 4),
      |mem AS (
      |  SELECT code0, code1, code2, code3, vec_id FROM (
      |    SELECT codes.*, ROW_NUMBER() OVER (
      |      PARTITION BY code0, code1, code2, code3 ORDER BY vec_id) AS rn
      |    FROM codes) t WHERE rn <= 4),
      |kept AS (
      |  SELECT query_id, code0, code1, code2, code3, approx_dot FROM (
      |    SELECT s.*, COALESCE(SUM(c.cnt) OVER (
      |      PARTITION BY s.query_id ORDER BY s.approx_dot DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      |    FROM scores s
      |    JOIN ccnt c USING (code0, code1, code2, code3)) t
      |  QUALIFY approx_dot >= MIN(CASE WHEN bef < 4 THEN approx_dot END)
      |    OVER (PARTITION BY query_id)),
      |ranked AS (
      |  SELECT kept.query_id, m.vec_id, kept.approx_dot,
      |    ROW_NUMBER() OVER (PARTITION BY kept.query_id
      |                       ORDER BY kept.approx_dot DESC, m.vec_id) AS rnk
      |  FROM kept JOIN mem m USING (code0, code1, code2, code3)
      |  WHERE m.vec_id <> kept.query_id)
      |SELECT query_id, vec_id, approx_dot, rnk FROM ranked
      |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** Exact maximum-inner-product search (MIPS): top-5 by RAW dot product
    * per query — the recommendation/retrieval objective proper, distinct
    * from [[cosineTopK]] (MIPS prefers large-norm items; cosine is
    * norm-invariant, and on unnormalized embeddings the two return
    * different neighbors).
    *
    * Same exact-tier plan as cosine: query side broadcast, ONE corpus
    * scan, per-query top-5 via WindowGroupLimit — and the same scale
    * path: MIPS reduces to cosine by norm-augmentation (Bachrach et al.,
    * RecSys 2014: append sqrt(M²−‖x‖²) to each item, 0 to the query;
    * ordering is preserved), after which [[annLshBucketed]]/[[annIvf]]/
    * [[annPqAdc]] apply unchanged. The reduction's order-preservation is
    * pinned by `FloatVectorOpsSpec` rather than run here — the exact tier
    * ranks on the raw dot directly so the oracle cross-checks real inner
    * products, not the reduction's intermediate. */
  def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val q = em.filter(pmod(col("vec_id"), lit(71L)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = em.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("embedding")), 6).as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("query_id"), col("rnk"))
  }

  val mipsTopKSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id % 71 = 0),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_sum(list_transform(range(1, len(e.embedding)+1),
      |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
      |      6) AS ip
      |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, ip,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY ip DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT query_id, vec_id, ip, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** ANN index-quality evaluation: recall@5 vs candidate-set cost of the
    * sign-bit LSH family, swept across plane counts {4, 6, 8} in ONE
    * query — the tuning curve every ANN deployment reads before picking
    * an operating point (recall halves as buckets refine 16→256 over
    * this corpus while candidate volume drops ~16×; uniform synthetic
    * vectors are sign-LSH's worst case, and the sweep SHOWS that rather
    * than asserting it). Ground truth is the exact cosine top-5 of
    * [[cosineTopK]]'s benchmark queries; the p-plane bucket is the
    * low-p-bit prefix of the 8-plane signature (bits are disjoint powers
    * of two, so `sig % 2^p` IS the p-plane signature — one signature
    * pass serves all three operating points).
    *
    * Plan: one 8-broadcast-dot signature pass (the [[annLshBucketed]]
    * shape), then per-p self-equi-join on the prefix bucket (query side
    * pre-filtered to the 10 benchmark vectors), LEFT-joined against the
    * exact top-5 set. Everything downstream of the signature pass is
    * key-only. At 100 TB: ground truth comes from a labeled eval slice
    * (exact top-k over a sample), the sweep is the same relational
    * program, and the recall/cost table is the artifact that picks the
    * production plane count. All-integer outputs — recall in fixed-point
    * ×10⁶ — so both engines hash-match exactly. */
  private val IvfEvalProbes = Seq(1, 2, 4) // probed cells per operating point
  private val PqEvalKs = Seq(4, 8, 16)     // codes per subspace per operating point
  // Recall@k of the eval tier: the exact-truth prefix, the PQ candidate
  // top-k, the factored threshold window's k+1 cutoff and the memoized
  // (k+1)-member prefixes ALL derive from this one constant (r18 ADVICE:
  // the literals 5/6 were coupled across three call sites and the
  // pq_members memo tag did not encode the prefix length, so a caller
  // wanting a different k would have silently reused the 6-row prefix).
  private[ops] val AnnEvalTopK = 5

  /** The full ANN operating-point artifact: recall@5 vs candidate/scoring
    * cost for ALL THREE approximate tiers, each swept across its tuning
    * knob — sign-bit LSH by plane count (4/6/8), IVF by probed cells
    * (1/2/4), PQ by codebook width (4/8/16 codes per subspace). One row
    * per (method, param); recall is measured against the shared exact
    * cosine top-5, and `cost` is the method's own work measure (LSH:
    * same-bucket candidate pairs; IVF: probed-cell rerank pairs; PQ:
    * queries × distinct observed code tuples = the ADC scoring volume).
    *
    * Each family sweeps from ONE shared pass: the LSH signature is built
    * once at 8 planes and the p-plane bucket is its low-bit prefix; the
    * IVF cell ranking is computed once to the max probe depth and each
    * operating point takes a rank prefix; the PQ seed matrix is collected
    * once at the max k and each codebook is a row prefix. So the sweep
    * costs one signature pass + one cell ranking + three bounded encode
    * projections — not nine independent index builds. */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame =
    annRecallEvalImpl(spark, dir, 50L)

  /** [[annRecallEval]] with the exact-truth tier restricted to a
    * hash-stable 1-in-1000 query sample (`vec_id % 1000 = 0` — the
    * replica stride is a power of ten, so the sample keeps whole replica
    * clusters and the recall operating points see the full corpus's
    * cluster-density regime). The truth tier is the sweep's only
    * quadratic stage (queries × corpus brute force); sampling IT while
    * every index build stays corpus-wide keeps the artifact's cost
    * O(corpus) end-to-end, so the recall/cost curves ship at decades
    * where the all-queries truth (and its DuckDB twin) are intractable —
    * the sf10+ scale-evidence variant the full-tier eval cannot give. */
  def annRecallSampled(spark: SparkSession, dir: String): DataFrame =
    annRecallEvalImpl(spark, dir, 1000L)

  private def annRecallEvalImpl(spark: SparkSession, dir: String,
      qmod: Long): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = Tables.embeddings(spark, dir)
    val q = em.filter(pmod(col("vec_id"), lit(qmod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = em.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
    // bounded-heap top-k, not a window sort: the truth tier's score
    // stream is queries × corpus and the window spill exhausted the disk
    // at sf100 (see cosineTopK — identical reasoning and kept rows).
    // Memoized per (session, dir, qmod): the labeled truth slice is
    // session-level eval infrastructure (IndexMemo), NOT shared across
    // qmods — the sampled variant must never inherit the full variant's
    // quadratic truth plan at decades where only the sample is tractable.
    val exactTop = IndexMemo.df(spark, dir, s"ann_truth:$qmod:$AnnEvalTopK") {
      graft.plans.GraftOps.topKPerGroup(scored, Seq("query_id"),
          Seq(("cos_sim", true), ("vec_id", false)), AnnEvalTopK)
        .select(col("query_id"), col("vec_id"))
    }

    // ---- LSH family: one 8-plane signature pass; p-plane bucket = low-bit prefix
    // (signature table is qmod-independent index state — built once per
    // (session, dir) and shared by both eval variants)
    val sigs = IndexMemo.df(spark, dir, "ann_sigs8") {
      val planes = em.filter(col("vec_id") < 8)
        .select(col("vec_id").as("plane_id"), col("embedding").as("plane"))
      em.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          when(dot(col("embedding"), col("plane")) >= 0,
            expr("shiftleft(1L, cast(plane_id as int))")).otherwise(0L).as("bit"))
        .groupBy(col("vec_id")).agg(sum(col("bit")).as("sig"))
    }
    // literal explodes, not crossJoin(broadcast(3-row frame)): the same
    // param cartesian without a broadcast-exchange job per site — the
    // eval entries' per-rep cost is scheduling-floor-dominated (18 jobs
    // ≈ 0.77 s of 1.05 s quiet at r16), so each removed broadcast job
    // is a direct ~43 ms win (BENCH_NOTES r17)
    val lshParams = Seq(4, 6, 8)
    def explodeParams(ps: Seq[Int]) =
      explode(array(ps.map(lit(_)): _*)).as("param")
    val sp = sigs.select(col("vec_id"), col("sig"), explodeParams(lshParams))
      .select(col("param"), col("vec_id"),
        expr("sig % shiftleft(1L, param)").as("bkt"))
    val lshCand = sp.filter(pmod(col("vec_id"), lit(qmod)) === 0).as("a")
      .join(sp.as("b"),
        col("a.param") === col("b.param") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.param").as("param"), col("a.vec_id").as("query_id"),
        col("b.vec_id").as("vec_id"), lit(1).as("hit"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lshCost = lshCand.groupBy(col("param")).agg(count(lit(1)).as("cost"))

    // ---- IVF family: one cell ranking to max probe depth; probe = rank prefix
    // (trained quantizer + corpus cell assignment are qmod-independent:
    // one Lloyd training and one assignment pass per (session, dir) —
    // the trainer's per-round fenced collects were the eval tier's
    // dominant scheduling-floor term)
    val cents = IndexMemo.value(spark, dir, s"lloyd:$IvfCells:$IvfRounds") {
      lloydCentroids(em, IvfCells, IvfRounds)
    }
    // memo tag carries the FULL centroid identity (cells AND rounds):
    // same-k/different-round centroids must not reuse stale assignments
    val cells = IndexMemo.df(spark, dir, s"ivf_cells:$IvfCells:$IvfRounds") {
      em.select(col("vec_id"), nearestCid(cents)(col("embedding")).as("cid"))
    }
    val maxProbe = IvfEvalProbes.max
    val qProbes = q.select(col("query_id"),
      posexplode(slice(array_sort(array(scoreStructs(cents)(col("q_emb")): _*)),
        1, maxProbe).getField("c")).as(Seq("pos", "cid")))
    val ivfCand = qProbes.join(cells, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ivfCandP = ivfCand
      .select(explodeParams(IvfEvalProbes), col("query_id"), col("vec_id"),
        col("pos"))
      .filter(col("pos") < col("param"))
      .select(col("param"), col("query_id"), col("vec_id"))
    val ivfCost = ivfCandP.groupBy(col("param")).agg(count(lit(1)).as("cost"))

    // r21 (VERDICT r20 task 1, guide §5): materialize BOTH per-rep
    // persisted candidate frames in ONE bounded job BEFORE the final
    // plan. Each frame has two consumers (the recall join's candidate
    // union AND the cost aggregate, which rides the final's broadcast
    // build), and those subtrees launch concurrently at plan-prepare
    // time — with the frames uncached they race to populate the persist
    // (duplicate candidate generation, "already cached" warnings). r20
    // kept the final `orderBy` because its range-sampling job happened
    // to run the pipeline once before the main job, warming the caches
    // sequentially; this warming job does the same with ONLY the
    // candidate work (no recall joins, no cost union), so the final can
    // take the 1-job local sort.
    Seq(lshCand.select(col("query_id")), ivfCand.select(col("query_id")))
      .reduce(_ union _)
      .write.format("noop").mode("overwrite").save()

    // ---- PQ family: one seed collect at max k; codebook k = row prefix.
    // The r11 A/B left the per-k chains UNFUSED (3.6 → 4.4 s then:
    // every fused stage was resource-bound and serialization lost).
    // r18 re-ran the A/B after the census/member memoization (the frames
    // the fused chain re-reads are now checkpoint-borne, so the fused
    // stages are floor-bound, not resource-bound) and adopted the fused
    // tail — see BENCH_NOTES r18.
    val seeds = IndexMemo.value(spark, dir, s"pq_seeds:${PqEvalKs.max}") {
      pqSeeds(em, PqEvalKs.max)
    }
    val codeCols = (0 until PqM).map(m => s"code$m")
    // ONE corpus scan encodes ALL THREE codebook widths (r18: the per-k
    // code tables were three separate em scans + checkpoints, and that
    // build is the dominant term of the eval pair's first driver-basis
    // run). The per-k argmin encodes are independent column expressions,
    // so stacking them in one projection is the same work minus two
    // scans; the per-k frames below are column slices of this memo.
    val codesAll = IndexMemo.df(spark, dir,
        s"pq_codes_all:${PqEvalKs.mkString("_")}") {
      em.select(col("vec_id") +: PqEvalKs.flatMap { k =>
        val cb = pqCodebook(seeds, k)
        (0 until PqM).map(m =>
          pqCode(cb, k)(col("embedding"), m).as(s"k${k}_code$m"))
      }: _*)
    }
    val pqState = PqEvalKs.map { k =>
      val cb = pqCodebook(seeds, k)
      // qmod-independent index state: the code table feeds BOTH the
      // census and the member prefixes, and both eval variants encode
      // against the identical codebooks
      val codes = codesAll.select(col("vec_id") +:
        (0 until PqM).map(m => col(s"k${k}_code$m").as(s"code$m")): _*)
      // the observed-code CENSUS (distinct codes + member counts) and the
      // (5+1)-smallest member ids per code are PQ index state (the ADC
      // scoring table's row domain + the factored top-k's member
      // prefixes, both qmod-independent) — memoized like the code table
      // they derive from, so the per-rep sweep re-runs neither the
      // census aggregate nor the member heap pass (r18: previously only
      // the count-less distinct was memoized and the top-k re-aggregated
      // counts + members per rep, one census shuffle + one heap shuffle
      // + two broadcast jobs per k per rep)
      val counts = IndexMemo.df(spark, dir, s"pq_counts:$k") {
        codes.groupBy(codeCols.map(col): _*).agg(count(lit(1)).as("__cnt"))
      }
      val members = IndexMemo.df(spark, dir,
          s"pq_members:$k:${AnnEvalTopK + 1}") {
        graft.plans.GraftOps.topKPerGroup(
          codes, codeCols, Seq(("vec_id", false)), AnnEvalTopK + 1)
      }
      (k, cb, counts, members)
    }
    // ---- fused tail (adopted r18): ALL NINE operating points settle in
    // one tagged recall join + one tagged cost union. Candidates
    // normalize to (method, param, query_id, vec_id) — lsh/ivf pairs
    // are unique per key by construction (one bucket per (param, vec),
    // one cell per vec), pq's are a top-k — so the single left join
    // cannot duplicate truth rows.
    val (pqCand, pqCost) = pqFamilyFused(q, codeCols, pqState)
    val candAll = lshCand
      .select(lit("lsh").as("method"), col("param"), col("query_id"),
        col("vec_id"))
      .unionByName(ivfCandP.select(lit("ivf").as("method"), col("param"),
        col("query_id"), col("vec_id")))
      .unionByName(pqCand.select(lit("pq").as("method"), col("param"),
        col("query_id"), col("vec_id")))
      .withColumn("hit", lit(1))
    val opPoints = Seq("lsh" -> lshParams, "ivf" -> IvfEvalProbes,
      "pq" -> PqEvalKs).flatMap { case (m, ps) =>
      ps.map(p => struct(lit(m).as("method"), lit(p).as("param")))
    }
    val rec = exactTop.select(col("query_id"), col("vec_id"),
        explode(array(opPoints: _*)).as("mp"))
      .select(col("mp.method").as("method"), col("mp.param").as("param"),
        col("query_id"), col("vec_id"))
      .join(candAll, Seq("method", "param", "query_id", "vec_id"),
        "left_outer")
      .groupBy(col("method"), col("param"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hits"))
    val costAll = lshCost.select(lit("lsh").as("method"), col("param"),
        col("cost"))
      .unionByName(ivfCost.select(lit("ivf").as("method"), col("param"),
        col("cost")))
      .unionByName(pqCost.select(lit("pq").as("method"), col("param"),
        col("cost")))
    // sortSmall is safe HERE because the candidate frames are warmed
    // explicitly above (r20's A/B showed the naive single-job final
    // losing 0.745 → 0.954 min exactly because the orderBy's sampling
    // job doubled as the cache warmer; see the warming note). 9-row
    // operating-point census — domain-sized by construction.
    rec.join(costAll, Seq("method", "param"))
      .select(col("method"), col("param"), col("n_exact"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_fp"), col("cost"))
      .sortSmall(col("method"), col("param"))
  }

  /** The three PQ operating points as ONE tagged dataflow (the
    * banding-eval fusion pattern): union the per-k memoized census /
    * member frames under a `param` tag, score with per-k ADC branches
    * guarded by `when(param = k)` (CaseWhen evaluates lazily per row, so
    * each row only pays its own codebook), run ONE threshold window and
    * ONE member join and ONE top-k over (param, query_id). Returns the
    * tagged top-5 candidates and per-param costs; the caller settles
    * recall in the all-family tagged join. Same memoized state and
    * contract as three per-k [[pqAdcTopKMemo]] chains, but the per-rep
    * sweep is one subtree instead of three (one members broadcast
    * instead of three, one window/top-k stage chain instead of three). */
  private def pqFamilyFused(q: DataFrame,
      codeCols: Seq[String],
      state: Seq[(Int, Seq[Seq[Seq[Double]]], DataFrame, DataFrame)])
      : (DataFrame, DataFrame) = {
    val countsAll = state.map { case (k, _, counts, _) =>
      counts.withColumn("param", lit(k))
    }.reduce(_ unionByName _)
    val membersAll = state.map { case (k, _, _, members) =>
      members.withColumn("param", lit(k))
    }.reduce(_ unionByName _)
    // Broadcast fence (r18 ADVICE): the fused members frame is the UNION
    // of all per-k member prefixes — up to Σ_k min(corpus, k^PqM) ×
    // (AnnEvalTopK+1) rows, ~3× the largest per-k member broadcast. The
    // code-space term is a STATIC bound (no count job):
    // with the current eval widths it is ≤ (4⁴+8⁴+16⁴)·6 ≈ 420k rows
    // (~tens of MB, well inside a broadcast); a future k=64 family
    // (64⁴·6 ≈ 10⁸ rows) crosses the fence and the member join degrades
    // to a plain shuffle join instead — the kept side is
    // threshold-filtered and code-keyed, so that shuffle is
    // candidate-sized, never corpus-sized.
    val memberRowBound = state.map { case (k, _, _, _) =>
      math.pow(k.toDouble, PqM.toDouble) * (AnnEvalTopK + 1)
    }.sum
    def membersJoin(m: DataFrame): DataFrame =
      if (memberRowBound <= 4e6) broadcast(m) else m
    val adc = state.map { case (k, cb, _, _) =>
      (col("param") === k) -> round(pqAdcTerm(cb, 0) + pqAdcTerm(cb, 1) +
        pqAdcTerm(cb, 2) + pqAdcTerm(cb, 3), 6)
    }
    val scores = broadcast(q).crossJoin(countsAll)
      .withColumn("approx_dot",
        adc.tail.foldLeft(when(adc.head._1, adc.head._2)) {
          case (acc, (c, v)) => acc.when(c, v)
        })
      .select(col("param") +: col("query_id") +: col("approx_dot") +:
        col("__cnt") +: codeCols.map(col): _*)
    val gcols = Seq("param", "query_id")
    val wq = Window.partitionBy(gcols.map(col): _*)
    val wcum = wq.orderBy(col("approx_dot").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = scores
      .withColumn("__before", coalesce(sum(col("__cnt")).over(wcum), lit(0L)))
      .withColumn("__thr", min(when(col("__before") < AnnEvalTopK + 1,
        col("approx_dot"))).over(wq))
      .filter(col("approx_dot") >= col("__thr"))
      .select((gcols.map(col) :+ col("approx_dot")) ++ codeCols.map(col): _*)
    val cand = kept.join(membersJoin(membersAll), "param" +: codeCols)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("param"), col("query_id"), col("vec_id"), col("approx_dot"))
    val top5 = graft.plans.GraftOps.topKPerGroup(cand, gcols,
        Seq(("approx_dot", true), ("vec_id", false)), AnnEvalTopK)
      .select(col("param"), col("query_id"), col("vec_id"))
    val cost = countsAll.groupBy(col("param")).agg(count(lit(1)).as("nd"))
      .crossJoin(q.agg(count(lit(1)).as("nq")))
      .select(col("param"), (col("nq") * col("nd")).as("cost"))
    (top5, cost)
  }

  /** Oracle twin of the three-family sweep: shared exact top-5, LSH
    * prefix buckets, the shared Lloyd CTEs + ranked probe prefixes, and
    * three unrolled PQ codebook widths. */
  val annRecallEvalSql: String = annRecallEvalSqlImpl(50L)

  /** Twin of [[annRecallSampled]] — same SQL with the sampled query mod. */
  val annRecallSampledSql: String = annRecallEvalSqlImpl(1000L)

  private def annRecallEvalSqlImpl(qmod: Long): String = {
    val dotSub = (m: String, e: String, c: String) =>
      s"""list_sum(list_transform(range(1, $PqSub + 1),
         |      i -> CAST($e[$m * $PqSub + i] AS DOUBLE) * $c[i]))""".stripMargin
    def pqCtes(k: Int): String =
      s"""cb$k AS (
         |  SELECT cbm.m, e.vec_id AS c,
         |    list_transform(list_slice(e.embedding, cbm.m * $PqSub + 1,
         |      (cbm.m + 1) * $PqSub), x -> CAST(x AS DOUBLE)) AS cent
         |  FROM embeddings e, cbm WHERE e.vec_id < $k),
         |cbq$k AS (
         |  SELECT m, c, cent,
         |    list_sum(list_transform(cent, x -> x * x)) AS csq FROM cb$k),
         |denc$k AS (
         |  SELECT e.vec_id, q.m, q.c,
         |    q.csq - 2 * ${dotSub("q.m", "e.embedding", "q.cent")} AS d
         |  FROM embeddings e, cbq$k q),
         |enc$k AS (
         |  SELECT t.vec_id, t.m, MIN(t.c) AS code
         |  FROM denc$k t
         |  JOIN (SELECT vec_id, m, MIN(d) AS dmin
         |        FROM denc$k GROUP BY vec_id, m) mn
         |    ON t.vec_id = mn.vec_id AND t.m = mn.m AND t.d = mn.dmin
         |  GROUP BY t.vec_id, t.m),
         |codes$k AS (
         |  SELECT vec_id,
         |    MAX(CASE WHEN m = 0 THEN code END) AS code0,
         |    MAX(CASE WHEN m = 1 THEN code END) AS code1,
         |    MAX(CASE WHEN m = 2 THEN code END) AS code2,
         |    MAX(CASE WHEN m = 3 THEN code END) AS code3
         |  FROM enc$k GROUP BY vec_id),
         |dcodes$k AS (SELECT DISTINCT code0, code1, code2, code3 FROM codes$k),
         |scores$k AS (
         |  SELECT q.query_id, d.code0, d.code1, d.code2, d.code3,
         |    round(${dotSub("0", "q.q_emb", "c0.cent")}
         |        + ${dotSub("1", "q.q_emb", "c1.cent")}
         |        + ${dotSub("2", "q.q_emb", "c2.cent")}
         |        + ${dotSub("3", "q.q_emb", "c3.cent")}, 6) AS approx_dot
         |  FROM q, dcodes$k d
         |  JOIN cb$k c0 ON c0.m = 0 AND c0.c = d.code0
         |  JOIN cb$k c1 ON c1.m = 1 AND c1.c = d.code1
         |  JOIN cb$k c2 ON c2.m = 2 AND c2.c = d.code2
         |  JOIN cb$k c3 ON c3.m = 3 AND c3.c = d.code3),
         |ccnt$k AS (
         |  SELECT code0, code1, code2, code3, COUNT(*) AS cnt
         |  FROM codes$k GROUP BY 1, 2, 3, 4),
         |mem$k AS (
         |  SELECT code0, code1, code2, code3, vec_id FROM (
         |    SELECT codes$k.*, ROW_NUMBER() OVER (
         |      PARTITION BY code0, code1, code2, code3 ORDER BY vec_id) AS rn
         |    FROM codes$k) t WHERE rn <= 6),
         |kept$k AS (
         |  SELECT query_id, code0, code1, code2, code3, approx_dot FROM (
         |    SELECT s.*, COALESCE(SUM(c.cnt) OVER (
         |      PARTITION BY s.query_id ORDER BY s.approx_dot DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |    FROM scores$k s
         |    JOIN ccnt$k c USING (code0, code1, code2, code3)) t
         |  QUALIFY approx_dot >= MIN(CASE WHEN bef < 6 THEN approx_dot END)
         |    OVER (PARTITION BY query_id)),
         |top$k AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT kept$k.query_id, m.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY kept$k.query_id
         |                         ORDER BY kept$k.approx_dot DESC, m.vec_id) AS rnk
         |    FROM kept$k JOIN mem$k m USING (code0, code1, code2, code3)
         |    WHERE m.vec_id <> kept$k.query_id) t WHERE rnk <= 5),
         |rec$k AS (
         |  SELECT COUNT(*) AS n_exact, COUNT(r.vec_id) AS n_hits,
         |    CAST(COUNT(r.vec_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_fp
         |  FROM et LEFT JOIN top$k r
         |    ON r.query_id = et.query_id AND r.vec_id = et.vec_id),
         |cost$k AS (
         |  SELECT (SELECT COUNT(*) FROM q) * (SELECT COUNT(*) FROM dcodes$k)
         |    AS cost)""".stripMargin
    def pqSel(k: Int): String =
      s"SELECT 'pq' AS method, $k AS param, n_exact, n_hits, recall_fp, cost FROM rec$k, cost$k"
    s"""WITH e AS (SELECT vec_id, embedding,
      |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS sq
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb, sq AS q_sq
      |  FROM e WHERE vec_id % $qmod = 0),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(list_sum(list_transform(range(1, len(e.embedding)+1),
      |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |      / (sqrt(q.q_sq) * sqrt(e.sq)), 6) AS cos_sim
      |  FROM e JOIN q ON e.vec_id <> q.query_id),
      |et AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |                         ORDER BY cos_sim DESC, vec_id) AS rnk
      |    FROM scored) WHERE rnk <= 5),
      |planes AS (SELECT vec_id AS plane_id, embedding AS plane
      |  FROM embeddings WHERE vec_id < 8),
      |bits AS (
      |  SELECT e.vec_id,
      |    CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.plane[i] AS DOUBLE))) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(p.plane_id AS INT))
      |      ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM e, planes p),
      |sigs AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sig
      |  FROM bits GROUP BY vec_id),
      |pc AS (SELECT p FROM (VALUES (4),(6),(8)) AS v(p)),
      |sigp AS (
      |  -- bucket key materialized per (p, vec_id) BEFORE the self-join:
      |  -- with `sig % (1<<pc.p)` inside the join predicate the key
      |  -- depends on a third relation (pc), so DuckDB can only
      |  -- nested-loop it (283 s at sf10); as a column it's a plain
      |  -- equi-join on (p, bkey) — seconds at the same SF
      |  SELECT pc.p, s.vec_id,
      |    s.sig % (CAST(1 AS BIGINT) << pc.p) AS bkey
      |  FROM pc, sigs s),
      |cand AS (
      |  SELECT sa.p, sa.vec_id AS query_id, sb.vec_id AS vec_id, 1 AS hit
      |  FROM (SELECT * FROM sigp WHERE vec_id % $qmod = 0) sa
      |  JOIN sigp sb ON sa.p = sb.p AND sa.bkey = sb.bkey
      |    AND sa.vec_id <> sb.vec_id),
      |lshcost AS (SELECT p, COUNT(*) AS cost FROM cand GROUP BY p),
      |lshbase AS (SELECT pc.p, et.query_id, et.vec_id FROM pc, et),
      |lshrec AS (
      |  SELECT lshbase.p, COUNT(*) AS n_exact, COUNT(c.hit) AS n_hits,
      |    CAST(COUNT(c.hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_fp
      |  FROM lshbase LEFT JOIN cand c ON c.p = lshbase.p
      |    AND c.query_id = lshbase.query_id AND c.vec_id = lshbase.vec_id
      |  GROUP BY lshbase.p),
      |${lloydCtesSql(IvfCells, IvfRounds)},
      |${lloydCellsSql(IvfRounds)},
      |qprobe AS (
      |  SELECT query_id, cid, pos FROM (
      |    SELECT q.query_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |        c.csq - 2 * ${sqlDot("q.q_emb", "c.centroid")}, c.cid) - 1 AS pos
      |    FROM q, cents$IvfRounds c) t WHERE pos < ${IvfEvalProbes.max}),
      |ivfcand AS (
      |  SELECT p.query_id, m.vec_id, p.pos
      |  FROM qprobe p JOIN cells m ON m.cid = p.cid
      |  WHERE m.vec_id <> p.query_id),
      |ivfp AS (SELECT param FROM (VALUES (1),(2),(4)) AS v(param)),
      |ivfcost AS (
      |  SELECT param, COUNT(*) AS cost FROM ivfp, ivfcand
      |  WHERE pos < param GROUP BY param),
      |ivfrec AS (
      |  SELECT b.param, COUNT(*) AS n_exact,
      |    COUNT(CASE WHEN c.pos < b.param THEN 1 END) AS n_hits,
      |    CAST(COUNT(CASE WHEN c.pos < b.param THEN 1 END) * 1000000
      |      // COUNT(*) AS BIGINT) AS recall_fp
      |  FROM (SELECT ivfp.param, et.query_id, et.vec_id FROM ivfp, et) b
      |  LEFT JOIN ivfcand c
      |    ON c.query_id = b.query_id AND c.vec_id = b.vec_id
      |  GROUP BY b.param),
      |cbm AS (SELECT unnest(range($PqM)) AS m),
      |${PqEvalKs.map(pqCtes).mkString(",\n")}
      |SELECT 'lsh' AS method, p AS param, n_exact, n_hits, recall_fp, cost
      |  FROM lshrec JOIN lshcost USING (p)
      |UNION ALL
      |SELECT 'ivf' AS method, param, n_exact, n_hits, recall_fp, cost
      |  FROM ivfrec JOIN ivfcost USING (param)
      |UNION ALL
      |${PqEvalKs.map(pqSel).mkString("\nUNION ALL\n")}
      |ORDER BY method, param""".stripMargin
  }

  // Inertia curve depth: rounds 0..3 (round 0 = seed centroids), one
  // past the production IvfRounds=2 so the curve shows where the
  // trainer's fixed cutoff sits on the convergence slope.
  private val InertiaRounds = 3

  /** k-means convergence curve — within-cluster sum of squares
    * ("inertia", the elbow-method quantity; Lloyd 1962's monotone
    * objective) of the shared deterministic trainer after 0..3
    * refinement rounds. The tuning artifact that justifies IvfRounds=2
    * with data rather than assertion, completing the operating-point
    * trilogy next to sim_ann_recall_eval and dedup_banding_recall_eval.
    *
    * Determinism: per-vector distance² = ‖v‖² + min_c(‖c‖² − 2·v·c) —
    * the exact score expression every Lloyd assignment here already
    * uses, one identically-ordered IEEE chain — FLOORED to 10⁴ fixed point
    * (floor is exact on any double; a 10⁶ grid sat within an ulp of
    * round-3 centroid arithmetic on one vector per corpus) and summed
    * as exact BIGINT. Scale posture: per round
    * one narrow scan of the corpus against k inline centroid literals +
    * one map-side-combined aggregate; the trainer state stays k×dim on
    * the driver (the documented constant-size fence, same call path as
    * the IVF tiers — no new collect sites). */
  def kmeansInertia(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val em = graft.Tables.embeddings(spark, dir)
    val parts = (0 to InertiaRounds).map { r =>
      val cents = IndexMemo.value(spark, dir, s"lloyd:$IvfCells:$r") {
        lloydCentroids(em, IvfCells, r)
      }
      em.select(sqNorm(col("embedding")).as("sq"),
          array_min(array(scoreStructs(cents)(col("embedding")): _*))
            .getField("s").as("smin"))
        .select(expr("cast(floor((sq + smin) * 1e4) as bigint)").as("d2"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("d2")).cast("long").as("inertia_fp"))
        .select(lit(r).as("round"), col("n_vectors"), col("inertia_fp"))
    }
    parts.reduce(_ union _).sortSmall(col("round"))
  }

  /** Oracle twin: ONE unrolled Lloyd CTE chain to the deepest round,
    * each curve point scoring the corpus against its `cents<r>`. */
  val kmeansInertiaSql: String = {
    def point(r: Int): String =
      s"""SELECT $r AS round, COUNT(*) AS n_vectors,
         |  CAST(SUM(d2) AS BIGINT) AS inertia_fp
         |FROM (
         |  SELECT e.vec_id,
         |    CAST(FLOOR((list_sum(list_transform(e.embedding,
         |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
         |      + MIN(c.csq - 2 * ${sqlDot("e.embedding", "c.centroid")})) * 1e4)
         |      AS BIGINT) AS d2
         |  FROM embeddings e, cents$r c
         |  GROUP BY e.vec_id, e.embedding) t""".stripMargin
    s"""WITH ${lloydCtesSql(IvfCells, InertiaRounds)}
      |${(0 to InertiaRounds).map(point).mkString("\nUNION ALL\n")}
      |ORDER BY round""".stripMargin
  }
}
