package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._

/** Embedding-space operators over the `embeddings` table (64-dim float
  * vectors): norms, brute-force cosine top-k (the correctness baseline),
  * multi-table random-hyperplane LSH with multi-probe (the scale path —
  * bucket equi-joins instead of a cross join), embedding-cosine near-dup
  * pairs, and a recall@5 audit of the LSH path against brute force.
  *
  * Scale notes (100 TB): brute-force is O(Q·N) and only acceptable for a
  * small pinned query set; the LSH variant turns candidate generation into
  * an equi-shuffle on (table, bucket) over a NARROW (id, table, bucket)
  * relation — embeddings are joined back only for the exact re-rank of the
  * deduped candidate pairs, so the wide vectors never ride the explode.
  * All arithmetic is done in DOUBLE with left-to-right `aggregate` folds so
  * results are deterministic across partitionings.
  *
  * Parameterization (N_TABLES=8, BITS=8, multi-probe hamming ≤ 1) is tuned
  * against the driver fixture, whose embeddings are near-uniform random —
  * the adversarial case for LSH (top-5 neighbors sit at cos ≈ 0.3–0.5,
  * barely above the random-pair band). Measured recall@5 vs brute force at
  * sf0.01 is 0.65 with ~26% of the corpus probed per query; the recall
  * floor (≥ 0.6) is pinned by AnnRecallSpec. On a real embedding corpus
  * (near-dup clusters at cos ≥ 0.8) the same parameters give per-table
  * collision ≈ 0.8^8 ≈ 0.17 for true pairs vs 2^-8 ≈ 0.004 for random
  * pairs — a ~40× separation, which is where the bucket join actually
  * prunes. */
object VectorOps {

  private val DIM = 64

  /** Σ aᵢ·bᵢ as a left-to-right double fold (deterministic). Codegen
    * kernel (graft.expr.VectorKernels) — the composable
    * aggregate(zip_with(...)) form is an interpreted HOF that re-enters
    * the lambda evaluator per element; the kernel runs the identical fold
    * (bitwise-equal results) as a JIT'd loop. */
  private def dot(a: Column, b: Column): Column =
    graft.expr.VectorExprs.vec_dot(a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  // ----------------------------------------------------------- norms
  private val vectorNorm = Q(
    "vector_norm",
    """SELECT vec_id,
      |       round(sqrt(list_sum(list_transform(embedding,
      |                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
      |       round(list_sum(list_transform(embedding,
      |                    x -> abs(CAST(x AS DOUBLE)))), 6) AS l1
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    embeddings(s, d).select(
      col("vec_id"),
      round(norm(col("embedding")), 6).as("l2"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + abs(x.cast("double"))), 6).as("l1"))
      .transform(ordered(_, "vec_id"))
  }

  private val vectorAvgByLabel = Q(
    "vector_avg_by_label",
    """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |       round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_first
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    embeddings(s, d).groupBy(col("label").cast("long").as("label")).agg(
      count(lit(1)).as("n"),
      round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("avg_first"))
      .transform(ordered(_, "label"))
  }

  // ------------------------------------------------- brute-force top-k
  /** Pinned query set (vec_id < 8) × all candidates: the exact-answer
    * baseline the LSH variant is measured against. */
  /** Memoized per session (SessionCache): the O(Q·N) scan runs once and
    * its tiny result (Q·k rows) is shared by ann_cosine_topk AND both
    * recall audits — ann_recall/ann_ivf_recall no longer re-run brute
    * force beside the ANN query they audit. */
  def bruteTopk(s: SparkSession, d: String, k: Int = 5): DataFrame =
    SessionCache.df(s, s"brute_topk:$d:$k") {
      val e = embWithNorm(s, d)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
      q.join(c, col("q_id") =!= col("c_id"))
        .withColumn("cos",
          dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"), col("rnk"))
        .transform(ordered(_, "q_id", "rnk"))
    }

  private def embWithNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("nrm", norm(col("embedding")))
      .filter(col("nrm") > 0)

  private val annCosineTopk = Q.noOracle("ann_cosine_topk")(bruteTopk(_, _))

  // -------------------------------------------------- LSH bucketing
  /** 8 independent hash tables × 8 sign bits each. Deterministic Rademacher
    * (±1) hyperplanes from a fixed LCG seed — pure data, identical across
    * executors and partition counts. Plane t*BITS+j is bit j of table t. */
  // nTables/bits are LshParams arguments now (registry defaults 8×8).
  /** Flattened [table·bits][dim] Rademacher hyperplane matrix (±1 from a
    * fixed LCG seed — pure data, identical across executors/partitions;
    * a prefix property: smaller parameterizations see the same leading
    * planes). Built per call — 4–8 KB of driver-side data. */
  private def planesFor(p: LshParams): Array[Double] = {
    var st = 42L
    def next(): Long = { st = st * 6364136223846793005L + 1442695040888963407L; st }
    Array.fill(p.nTables * p.bits * DIM)(if ((next() >>> 40 & 1L) == 1L) 1.0 else -1.0)
  }

  /** The NARROW hash relation: one (vec_id, tbl, bucket) row per table.
    * This is the only thing the LSH shuffle moves. The 64-plane projection
    * is the LshBucketsExpr codegen kernel (the SQL HOF form was the
    * vector path's dominant interpreted constant). Memoized per session
    * (SessionCache): every consumer joins this relation at least twice
    * (probe + candidate side), and ann_lsh_topk / ann_recall /
    * dedup_embed_cosine all share it. */
  private def hashRelation(s: SparkSession, d: String,
                           p: LshParams = LshParams()): DataFrame =
    SessionCache.df(s, s"lsh_hashes:${p.nTables}x${p.bits}:$d") {
      hashRelationOf(embWithNorm(s, d), p)
    }

  /** ANN via multi-table LSH with hamming≤1 multi-probe on the QUERY side:
    * each query probes its own bucket plus the BITS single-bit-flip
    * neighbors in every table (1+BITS probes × N_TABLES rows per query —
    * constant). Candidates = equi-join on (tbl, bucket) → distinct
    * (q_id, c_id) → exact cosine re-rank → top-k. No cross join anywhere;
    * the per-query probe fan-out is fixed, so this is shuffle-shaped for
    * 10^9 vectors. */
  def lshTopk(s: SparkSession, d: String, k: Int = 5,
              p: LshParams = LshParams()): DataFrame = {
    val e = embWithNorm(s, d)
    val hashes = hashRelation(s, d, p)
    val cand = hashes.select(col("vec_id").as("c_id"), col("tbl"), col("bucket"))
    val probes = hashes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("tbl"),
        explode(expr(s"""transform(sequence(0, ${p.bits}), p ->
          if(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    val pairs = probes.join(cand, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()
    // Exact re-rank: join the wide vectors back for the deduped pairs only.
    rerank(pairs, e, k)
  }

  private val annLshTopk = Q.noOracle("ann_lsh_topk")(lshTopk(_, _))

  // ------------------------------------------------------ IVF (scale path 2)
  /** IVF-flat ANN: spherical k-means coarse quantizer → inverted lists on
    * centroid id → probe the nprobe nearest lists → exact re-rank.
    *
    * Training runs DRIVER-SIDE on a deterministic sample (≤ IVF_SAMPLE_CAP
    * vectors by hashed id — how IVF coarse quantizers are trained in
    * practice; a distributed groupBy-mean would also be order-sensitive in
    * double arithmetic and therefore non-deterministic across partition
    * counts). Assignment and probing are distributed: the index is a
    * NARROW (centroid_id, vec_id) relation, candidates come from an
    * equi-join on centroid_id, and the wide vectors are only joined back
    * for the exact re-rank. Measured recall@5 at sf0.01 (random fixture):
    * 0.825 with ~25% of the corpus probed — floor 0.7 pinned by
    * AnnRecallSpec. nprobe/K trades recall for probe fraction at any
    * corpus size. */
  // IVF k/nprobe/iters/sampleCap are IvfParams arguments now (registry
  // defaults 16/4/5/4096).

  /** Deterministic spherical k-means (driver-side Lloyd on the sorted
    * sample; empty clusters keep their centroid; first-max tie-break). */
  private[queries] def ivfCentroids(e: DataFrame,
                                    p: IvfParams = IvfParams()): Seq[Seq[Double]] = {
    val IVF_K = p.k
    val IVF_ITERS = p.iters
    val sample = e.select(col("vec_id"), col("embedding"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h", "vec_id").limit(p.sampleCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val vecs = sample.map(t => normalize(t._2))
    // init: the K sample vectors with the smallest Knuth-hashed ids
    val seedIdx = sample.map(_._1).zipWithIndex
      .sortBy { case (id, _) => ((id * 2654435761L) & 0xFFFFFFFFL, id) }
      .take(IVF_K).map(_._2)
    var cents = seedIdx.map(vecs(_).clone).toArray
    for (_ <- 0 until IVF_ITERS) {
      val sums = Array.fill(IVF_K)(new Array[Double](DIM))
      val counts = new Array[Long](IVF_K)
      vecs.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity
        for (k <- 0 until IVF_K) {
          var s = 0.0; var i = 0
          while (i < DIM) { s += cents(k)(i) * v(i); i += 1 }
          if (s > bestSim) { bestSim = s; best = k }
        }
        var i = 0
        while (i < DIM) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      for (k <- 0 until IVF_K if counts(k) > 0) cents(k) = normalize(sums(k))
    }
    cents.map(_.toSeq).toSeq
  }

  /** The IVF INDEX — trained coarse quantizer + inverted lists — is built
    * once per (session, corpus) and shared (how ANN is actually operated:
    * index amortized over many queries; ann_ivf_topk and ann_ivf_recall
    * stop re-training per invocation). Probing and re-rank stay per-call. */
  private val centsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, IvfParams), Array[Double]]()
  private def centroids(s: SparkSession, d: String, p: IvfParams): Array[Double] =
    centsCache.computeIfAbsent((SessionCache.sessionKey(s), d, p),
      _ => ivfCentroids(embWithNorm(s, d), p).flatten.toArray)

  /** sims(embedding, centroid_j) for all j — argmax is scale-invariant, so
    * the raw (unnormalized) embedding is used. CentroidSimsExpr is the
    * codegen kernel (same left-to-right fold as the old HOF form). */
  private def centroidSims(s: SparkSession, d: String, p: IvfParams): Column =
    graft.expr.VectorExprs.centroid_sims(col("embedding"), centroids(s, d, p), DIM, p.k)

  /** Inverted lists: narrow (cid, c_id). array_position = first max
    * (deterministic tie-break), 1-based → cid in [0, K). */
  private def ivfLists(s: SparkSession, d: String, p: IvfParams): DataFrame =
    SessionCache.df(s, s"ivf_lists:${p.k}i${p.iters}s${p.sampleCap}:$d") {
      embWithNorm(s, d)
        .withColumn("sims", centroidSims(s, d, p))
        .select(col("vec_id").as("c_id"),
          (array_position(col("sims"), array_max(col("sims"))) - 1).cast("int").as("cid"))
    }

  def ivfTopk(s: SparkSession, d: String, k: Int = 5,
              p: IvfParams = IvfParams()): DataFrame = {
    val e = embWithNorm(s, d)
    val wp = Window.partitionBy("q_id").orderBy(col("sim").desc, col("cid").asc)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        posexplode(centroidSims(s, d, p)).as(Seq("cid", "sim")))
      .withColumn("rnk", row_number().over(wp))
      .filter(col("rnk") <= p.nprobe)
      .select("q_id", "cid")
    val pairs = probes.join(ivfLists(s, d, p), Seq("cid"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()
    rerank(pairs, e, k)
  }

  /** Exact cosine re-rank of deduped (q_id, c_id) candidate pairs. */
  private def rerank(pairs: DataFrame, e: DataFrame, k: Int): DataFrame = {
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    pairs.join(q, Seq("q_id")).join(c, Seq("c_id"))
      .withColumn("cos",
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"), col("rnk"))
      .transform(ordered(_, "q_id", "rnk"))
  }

  private val annIvfTopk = Q.noOracle("ann_ivf_topk")(ivfTopk(_, _))

  /** recall@5 of an approximate top-k against brute force, per query — the
    * audit row a user checks before trusting an ANN variant. Fully
    * deterministic (fixed planes/centroids, fixed data); floors are pinned
    * by AnnRecallSpec (LSH ≥ 0.6, IVF ≥ 0.7). */
  def recallAt5(ann: DataFrame, s: SparkSession, d: String): DataFrame = {
    val bf = bruteTopk(s, d).select(col("q_id"), col("c_id"))
    bf.join(ann.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
      .join(bf.groupBy("q_id").agg(count(lit(1)).as("k")), Seq("q_id"), "right")
      .select(col("q_id"), round(coalesce(col("hits"), lit(0L)) / col("k"), 4).as("recall"))
      .transform(ordered(_, "q_id"))
  }

  private val annRecall =
    Q.noOracle("ann_recall")((s, d) => recallAt5(lshTopk(s, d), s, d))
  private val annIvfRecall =
    Q.noOracle("ann_ivf_recall")((s, d) => recallAt5(ivfTopk(s, d), s, d))

  /** Embedding-cosine near-dup pairs from same-bucket collisions in ANY of
    * the hash tables (bounded pair generation: per-table collision for a
    * random pair is 2^-BITS), threshold re-checked exactly on the deduped
    * candidate pairs. */
  /** Degenerate-bucket guard for the pair join: a pathological bucket (all
    * vectors hashing identically — e.g. a constant-embedding flood) would
    * make the self-join quadratic in that bucket. Buckets larger than the
    * cap are skipped for PAIR generation (their members still pair through
    * their other 7 tables). No effect at fixture scale (max bucket ≪ cap). */
  private val PAIR_BUCKET_CAP = 1000

  /** LSH-collision → exact-recheck near-dup pairs over an ARBITRARY
    * normalized vector relation — the body of dedup_embed_cosine, factored
    * so the audit can run the identical pipeline over a planted corpus.
    * `e` must carry (vec_id, embedding, nrm); `hashes` its (vec_id, tbl,
    * bucket) relation. Returns (id_a, id_b, cos), unrounded/unlimited. */
  def embedPairsOf(e: DataFrame, hashes: DataFrame, tau: Double,
                   pairBucketCap: Int = PAIR_BUCKET_CAP): DataFrame = {
    val small = hashes.select("tbl", "bucket")
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") <= pairBucketCap).drop("n")
    val capped = hashes.join(small, Seq("tbl", "bucket"), "left_semi")
    val pairs = capped.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
      .join(capped.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("cos", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b", "cos")
  }

  /** The non-memoized hash relation of an arbitrary vector set (the
    * memoized [[hashRelation]] wraps this for the standard table). */
  private def hashRelationOf(e: DataFrame, p: LshParams): DataFrame =
    e.withColumn("buckets", graft.expr.VectorExprs.lsh_buckets(
      col("embedding"), planesFor(p), DIM, p.nTables, p.bits))
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))

  private val dedupEmbedCosine = Q.noOracle("dedup_embed_cosine") { (s, d) =>
    embedPairsOf(embWithNorm(s, d), hashRelation(s, d), 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(1000)
  }

  /** Recall audit of the embedding near-dup pipeline, same rigor as the
    * minhash/simhash audits — two tiers, because the fixture embeddings
    * are near-uniform random (max pairwise cos ≈ 0.51, NO true near-dups):
    *
    *  - PLANTED tier (what production dedup needs): every vector gets a
    *    deterministic ±5% multiplicative-noise twin (cos ≈ 0.999, vec_id
    *    + 10^6); the IDENTICAL pipeline runs over base ∪ twins, and
    *    planted_recall = planted pairs reported / planted. Theory for
    *    8×8-bit tables at cos ≥ 0.99: ≥ 0.93.
    *  - BAND tier (the adversarial random case, reported honestly):
    *    brute-force all-pairs cos ≥ 0.3 over the base vectors (audit-scale
    *    O(n²) tool, like the simhash audit's ground truth) vs the
    *    pipeline's reported base pairs. Random-band pairs are exactly
    *    what LSH is DESIGNED to prune, so this recall is low by
    *    construction — the number is published, not hidden. Precision is
    *    1.0 by construction (exact cosine recheck) and asserted. */
  private val dedupEmbedAudit = Q.noOracle("dedup_embed_audit") { (s, d) =>
    val OFFSET = 1000000L
    val base = embeddings(s, d).select("vec_id", "embedding")
    val twins = base.select(
      (col("vec_id") + OFFSET).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) +
          (pmod(xxhash64(col("vec_id"), i), lit(101)) - lit(50)).cast("double") / 1000.0))
          .cast("float")).as("embedding"))
    // Memoized planted corpus (resolved before the reported builder —
    // SessionCache nesting rule): e2 feeds the hash relation AND both
    // verify-join sides, so one materialized copy replaces ~4 evaluations of
    // the twin synthesis + norm.
    val e2 = SessionCache.df(s, s"embed_audit_corpus:$d") {
      graft.tables.Tables.fanOut(base.unionByName(twins))
        .withColumn("nrm", norm(col("embedding"))).filter(col("nrm") > 0)
    }
    // Memoized: the reported pair set feeds THREE counting branches
    // (planted / band-reported / band-recalled); one materialized copy
    // replaces three runs of the planted-corpus LSH pipeline.
    val reported = SessionCache.df(s, s"embed_audit_reported:$d") {
      embedPairsOf(e2, hashRelationOf(e2, LshParams()), 0.3)
    }
    val plantedFound = reported
      .filter(col("id_b") === col("id_a") + OFFSET)
      .agg(count(lit(1)).as("n_planted_found"))
    val nPlanted = base.agg(count(lit(1)).as("n_planted"))
    // band tier over the BASE vectors only; fanOut widens the stream side
    // of the all-pairs BNLJ (the n² dot-product evaluation otherwise runs
    // in the single-split scan's one task — guide §2.2)
    val eBase = embWithNorm(s, d)
    val a = graft.tables.Tables.fanOut(eBase)
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = eBase.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    val bandTruth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= 0.3)
      .select("id_a", "id_b")
    val bandReported = reported
      .filter(col("id_a") < OFFSET && col("id_b") < OFFSET).select("id_a", "id_b")
    // ONE pass over the n² truth join: true count and recalled count come
    // from the same left join (reported pairs are distinct by
    // construction, so the join cannot multiply truth rows) — the old
    // count + left_semi-count branch pair evaluated the cross join twice.
    val bandStats = bandTruth
      .join(bandReported.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_band_true"), count(col("hit")).as("n_band_recalled"))
    val nBandRep = bandReported.agg(count(lit(1)).as("n_band_reported"))
    nPlanted.crossJoin(plantedFound).crossJoin(bandStats).crossJoin(nBandRep)
      .select(col("n_planted"), col("n_planted_found"),
        round(col("n_planted_found") / col("n_planted"), 4).as("planted_recall"),
        col("n_band_true"), col("n_band_reported"), col("n_band_recalled"),
        round(col("n_band_recalled") / col("n_band_true"), 4).as("band_recall"),
        round(col("n_band_recalled") / col("n_band_reported"), 4).as("band_precision"))
  }

  val all: Seq[Q] = Seq(
    vectorNorm, vectorAvgByLabel, annCosineTopk, annLshTopk, annIvfTopk,
    annRecall, annIvfRecall, dedupEmbedCosine, dedupEmbedAudit)
}
