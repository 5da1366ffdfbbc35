package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table
  * (vec_id, embedding: array<float>, label).
  *
  * Three paths, as a 100 TB pipeline needs all of them:
  *  - brute-force cosine top-k (the correctness baseline) — a broadcast
  *    join of the (tiny) query set against the full vector table, dot
  *    products as codegen'd array expressions, per-query top-k via
  *    window over the query partition;
  *  - LSH (sign-random-projection): the plane count SCALES WITH THE
  *    CORPUS — nPlanes = min(24, max(4, ceil(log2(n / 64)))) — so bucket
  *    cardinality tracks corpus size (a fixed 2^4 = 16 buckets caps
  *    shuffle parallelism at 16 tasks and makes every bucket ~6% of a
  *    10^9-vector corpus; scaled planes keep buckets near the 64-vector
  *    target). Query-side MULTI-PROBE (the exact bucket + every
  *    hamming-1 flip) buys the recall back that narrower buckets cost;
  *  - IVF with a TRAINED coarse quantizer: deterministic Lloyd k-means
  *    (fixed init = first-⌈n/TargetCellSize⌉ vectors — the CELL COUNT
  *    SCALES WITH THE CORPUS, capped at 4096; fixed KMeansIters
  *    iterations, integer-exact centroid updates so the DuckDB twin is
  *    bit-identical), probing the ⌊√cells⌋ nearest cells per query —
  *    probed fraction shrinks as the index grows.
  *
  * Every "random" quantity derives from index arithmetic or md5 — no RNG
  * state — so an independent engine recomputes identical results.
  */
object AnnOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  /** Corpus size via the raw scan (parquet metadata count — no shuffle). */
  private def embCount(s: SparkSession, dir: String): Long =
    s.read.parquet(s"$dir/embeddings.parquet").count()

  /** Sequential-order dot product in double precision — both engines
    * accumulate left-to-right, so results are bit-identical. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  val TopK = 10
  val NQueries = 5

  /** a1: brute-force cosine top-k for the first NQueries vectors.
    * Similarity is rounded to 6 dp for cross-engine hash stability; ties
    * break by neighbor id. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // norms are per-vector, computed ONCE before the pair join (O(n)) —
    // inlining norm(...) into the cosine would recompute it per pair
    // (O(n·q)); sqrt(dot(v,v)) is bit-identical either way
    val e = emb(s, dir).withColumn("nrm", norm($"embedding"))
    val q = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qnrm"))
    val joined = e.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(dot($"q", $"embedding") / ($"qnrm" * $"nrm"), 6)
          .as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  val bruteForceTopKSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |sims AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
       |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6)
       |    AS cosine
       |  FROM embeddings e, q WHERE e.vec_id != q.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM sims) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- LSH: corpus-scaled sign-random-projection --------------------------

  val MaxPlanes = 24
  val TargetBucketSize = 64L

  /** nPlanes = min(24, max(4, ceil(log2(n / 64)))) via exact integer
    * thresholds (a float log2 could round differently across engines). */
  def nPlanesFor(n: Long): Int = {
    var k = 4
    while (k < MaxPlanes && n > (TargetBucketSize << k)) k += 1
    k
  }

  /** DuckDB twin of [[nPlanesFor]] over `count(*)` — the same integer
    * threshold ladder. */
  val nPlanesSqlExpr: String = {
    val cases = (4 until MaxPlanes)
      .map(k => s"WHEN count(*) <= ${TargetBucketSize << k} THEN $k").mkString(" ")
    s"CASE $cases ELSE $MaxPlanes END"
  }

  /** Deterministic pseudo-random hyperplane weight for (dim i, plane p):
    * integer in [-3, 3] derived from index arithmetic — reproducible in
    * any engine, no RNG state. */
  private def planeWeight(i: Column, p: Int): Column =
    pmod(i * 31 + lit(p) * 17 + 7, lit(7)) - 3

  /** Floor-quantized integer components (×1000) of an embedding — the
    * shared input every SRP plane projects; materialize it through a
    * projection boundary so the float quantization runs once per row,
    * not once per plane. */
  def srpQuantized(embCol: Column): Column =
    transform(embCol, x => floor(x.cast("double") * 1000).cast("long"))

  /** SRP bucket id over a PRE-QUANTIZED long-array column (see
    * [[srpQuantized]]): per plane, the integer dot product against the
    * index-derived weights — exact integer arithmetic, no
    * float-summation-order drift between engines. */
  def srpBucketQ(qCol: Column, nPlanes: Int): Column = {
    val dims = sequence(lit(0), size(qCol) - 1)
    val bucketBits = (0 until nPlanes).map { p =>
      val proj = aggregate(dims, lit(0L),
        (acc, i) => acc +
          element_at(qCol, (i + 1).cast("int")) * planeWeight(i, p).cast("long"))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bucketBits.reduce(_ + _)
  }

  /** Sign-random-projection bucket id for an embedding column — the
    * one-shot form ([[srpQuantized]] folded in; prefer the split pair
    * with a projection boundary on hot paths). Shared by a2/a3 and
    * DedupOps.embeddingNearDup. */
  def srpBucket(embCol: Column, nPlanes: Int): Column =
    srpBucketQ(srpQuantized(embCol), nPlanes)

  /** DuckDB twin of [[srpBucket]] over a column named `embedding`, with
    * plane terms masked by an in-scope `np` column (the SQL can't unroll
    * to a runtime-dependent count, so all MaxPlanes terms exist and the
    * ones past np contribute 0). */
  val srpBucketSqlMasked: String = (0 until MaxPlanes).map { p =>
    s"""CASE WHEN $p < np THEN (CASE WHEN list_sum(list_transform(generate_series(0, len(embedding) - 1),
       |  i -> CAST(floor(embedding[i + 1]::DOUBLE * 1000) AS BIGINT) * (((i * 31 + $p * 17 + 7) % 7) - 3))) > 0
       |  THEN ${1L << p} ELSE 0 END) ELSE 0 END""".stripMargin
  }.mkString(" + ")

  private val npCte = s"np AS (SELECT $nPlanesSqlExpr AS np FROM embeddings)"

  /** Multi-probe bucket list: the exact bucket, every hamming-1 flip,
    * and (radius 2) every hamming-2 flip — 1 + np + np(np-1)/2 distinct
    * probes. Radius 2 is the QUERY-side default (queries are few; at
    * np=20 it probes 211 of 2^20 buckets — 0.02% of the corpus); the
    * d5 self-join keeps radius 1 because there the probe factor
    * multiplies the whole corpus's shuffle volume. */
  def probeArray(bucket: Column, nPlanes: Int, radius: Int): Column = {
    val r1 = (0 until nPlanes).map(p => bucket.bitwiseXOR(lit(1L << p)))
    val r2 =
      if (radius < 2) Seq.empty
      else for { p <- 0 until nPlanes; q <- (p + 1) until nPlanes }
        yield bucket.bitwiseXOR(lit((1L << p) + (1L << q)))
    val r3 =
      if (radius < 3) Seq.empty
      else for {
        p <- 0 until nPlanes; q <- (p + 1) until nPlanes; s <- (q + 1) until nPlanes
      } yield bucket.bitwiseXOR(lit((1L << p) + (1L << q) + (1L << s)))
    array((Seq(bucket) ++ r1 ++ r2 ++ r3): _*)
  }

  /** DuckDB twin of [[probeArray]] (expects `bucket` and `np.np` in
    * scope). */
  def probeListSql(radius: Int): String = {
    val r1 = "list_transform(generate_series(1, np.np), i -> xor(bucket, (1::BIGINT << (i-1))))"
    val r2 = "flatten(list_transform(generate_series(0, np.np - 2), " +
      "p -> list_transform(generate_series(p + 1, np.np - 1), " +
      "q -> xor(bucket, (1::BIGINT << p) + (1::BIGINT << q)))))"
    val r3 = "flatten(list_transform(generate_series(0, np.np - 3), " +
      "p -> flatten(list_transform(generate_series(p + 1, np.np - 2), " +
      "q -> list_transform(generate_series(q + 1, np.np - 1), " +
      "s -> xor(bucket, (1::BIGINT << p) + (1::BIGINT << q) + (1::BIGINT << s)))))))"
    if (radius < 2) s"list_prepend(bucket, $r1)"
    else if (radius < 3) s"list_prepend(bucket, list_concat($r1, $r2))"
    else s"list_prepend(bucket, list_concat(list_concat($r1, $r2), $r3))"
  }

  /** a2: sign-random-projection bucket id per vector (the LSH partition
    * step; search = same hash on the query + a bucket-local scan). */
  def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesFor(embCount(s, dir))
    emb(s, dir)
      .select($"vec_id", srpQuantized($"embedding").as("__q"),
        $"label".cast("long").as("label"))
      .select(
        $"vec_id",
        srpBucketQ($"__q", np).as("bucket"),
        $"label")
      .orderBy($"vec_id")
  }

  val lshBucketsSql: String =
    s"""WITH $npCte
       |SELECT vec_id, ($srpBucketSqlMasked)::BIGINT AS bucket, label::BIGINT AS label
       |FROM embeddings, np ORDER BY vec_id""".stripMargin

  /** Query-side probe radius for a3 (see [[probeArray]]). */
  val QueryProbeRadius = 3

  /** a3: multi-probe LSH ANN — top-TopK cosine neighbors across the
    * query's probe buckets (exact bucket + hamming-≤3 ring). The probed
    * fraction is O(np³)/2^np of the corpus — at np=20 that is 1351
    * buckets of 2^20 ≈ 0.13%, the pruning that makes 10^9-vector search
    * tractable; recall vs the a1 ground truth is reported by
    * AnnRecallSpec and in BENCH.md. */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesFor(embCount(s, dir))
    val e = emb(s, dir)
      .select($"vec_id", $"embedding", srpQuantized($"embedding").as("__q"),
        norm($"embedding").as("nrm"))
      .select($"vec_id", $"embedding",
        srpBucketQ($"__q", np).as("bucket"), $"nrm")
    val q = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qnrm"),
        explode(probeArray($"bucket", np, QueryProbeRadius)).as("bucket"))
    val joined = e.join(broadcast(q), Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(dot($"q", $"embedding") / ($"qnrm" * $"nrm"), 6)
          .as("cosine"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= TopK)
      .orderBy($"query_id", $"rank")
  }

  val lshTopKSql: String =
    s"""WITH $npCte,
       |b AS (SELECT vec_id, embedding, ($srpBucketSqlMasked)::BIGINT AS bucket
       |      FROM embeddings, np),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < $NQueries),
       |qp AS (SELECT query_id, qv, unnest(${probeListSql(QueryProbeRadius)}) AS bucket FROM q, np),
       |sims AS (
       |  SELECT qp.query_id, b.vec_id AS neighbor_id,
       |    round(list_dot_product(qp.qv::DOUBLE[], b.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(qp.qv::DOUBLE[], qp.qv::DOUBLE[])) *
       |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
       |    AS cosine
       |  FROM b JOIN qp ON b.bucket = qp.bucket AND b.vec_id != qp.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM sims) WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- IVF: trained coarse quantizer (deterministic Lloyd) ----------------

  val KMeansIters = 2
  val IvfK = 3
  val MinCentroids = 8
  val MaxCentroids = 4096
  val TargetCellSize = 4096L
  /** Literal-centroid codegen path up to this many cells; above it the
    * assignment becomes a broadcast centroid join + map-side argmax
    * (4096 literal projection columns would blow plan construction and
    * the codegen method limit — same cutover shape as the robots compile→join). */
  val CellCompileCutover = 64

  /** Cells scale with the corpus: ⌈n / TargetCellSize⌉ clamped to
    * [MinCentroids, MaxCentroids] — a fixed cell count makes every cell a
    * constant FRACTION of the corpus (at 10^9 vectors, 8 cells × nprobe 2
    * scans ~25% per query); scaled cells keep the probed fraction
    * ~nprobe/cells. Integer-exact so the DuckDB twin reproduces it. */
  def nCentroidsFor(n: Long): Int =
    math.min(MaxCentroids.toLong, math.max(MinCentroids.toLong,
      (n + TargetCellSize - 1) / TargetCellSize)).toInt

  /** nprobe tracks the cell count: max(2, ⌊√cells⌋) — probed fraction
    * √cells/cells shrinks as the index grows (8 cells → 2 probes, the
    * round-2 operating point; 4096 cells → 64 probes = 1.6%). */
  def nProbeFor(nCent: Int): Int =
    math.max(2, math.sqrt(nCent.toDouble).toInt)

  /** DuckDB twins of the two ladders (integer-exact: `//` division, and
    * sqrt of a small int is correctly rounded so floor matches). */
  val nCentroidsSqlExpr: String =
    s"GREATEST($MinCentroids, LEAST($MaxCentroids, (count(*) + ${TargetCellSize - 1}) // $TargetCellSize))"
  val nProbeSqlExpr: String =
    s"GREATEST(2, CAST(floor(sqrt($nCentroidsSqlExpr)) AS BIGINT))"

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Cosine of a LITERAL centroid against the embedding column — the
    * centroid norm folds at plan time; accumulation order matches
    * DuckDB's list_dot_product. */
  private def centCos(c: Array[Double]): Column = {
    val cn = math.sqrt(c.foldLeft(0.0)((a, v) => a + v * v))
    round(
      aggregate(zip_with(typedLit(c.toSeq), col("embedding"),
        (x, y) => x * y.cast("double")), lit(0.0), (acc, v) => acc + v) /
        (lit(cn) * col("nrm")), 6)
  }

  /** Attach `cell` = argmax-cosine centroid (tie → lowest id), by the
    * size-adaptive cutover: ≤ CellCompileCutover cells fold into LITERAL
    * projection columns (narrow map stage, zero join); above it the
    * centroids ride a broadcast join with a map-side max_by argmax. The
    * two paths are decision-identical (rounded cosine, strict-greater
    * keeps the lowest id on ties) — asserted by AnnRecallSpec. */
  private[operators] def withCell(df: DataFrame, cents: Seq[(Int, Array[Double])],
      forceJoin: Boolean = false): DataFrame =
    if (!forceJoin && cents.size <= CellCompileCutover) withCellLiteral(df, cents)
    else withCellJoin(df, cents)

  /** The cc columns cross a projection boundary first so the fold below
    * only duplicates cheap column refs, never the dot-product trees. */
  private def withCellLiteral(df: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    val withCc = df.select(
      (df.columns.map(col).toSeq ++ cents.map { case (k, c) => centCos(c).as(s"__cc$k") }): _*)
    val ks = cents.map(_._1)
    val init = (col(s"__cc${ks.head}"), lit(ks.head))
    val (_, bestK) = ks.tail.foldLeft(init) { case ((bc, bk), k) =>
      val c = col(s"__cc$k")
      (when(c > bc, c).otherwise(bc), when(c > bc, lit(k)).otherwise(bk))
    }
    withCc.withColumn("cell", bestK).drop(ks.map(k => s"__cc$k"): _*)
  }

  /** Large-cell-count assignment: broadcast the (cent_id, cv, cn) table,
    * one cosine per (vector, centroid) pair, map-side max_by argmax —
    * the shuffle moves n ROWS (partial aggregates), never n × cells.
    * max_by key (cc, -cent_id): highest cosine, ties → lowest id, exactly
    * the literal fold's strict-greater semantics. */
  private def withCellJoin(df: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cdf = s.createDataset(cents.map { case (k, c) =>
      (k, c.toSeq, math.sqrt(c.foldLeft(0.0)((a, v) => a + v * v)))
    }).toDF("__cent_id", "__cv", "__cn")
    val cc = round(
      aggregate(zip_with(col("__cv"), col("embedding"), (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v) / (col("__cn") * col("nrm")), 6)
    val others = df.columns.filter(_ != "vec_id").toSeq
    df.join(broadcast(cdf))
      .withColumn("__cc", cc)
      .groupBy(col("vec_id"))
      .agg(others.head match {
        case h => first(col(h)).as(h)
      }, (others.tail.map(c => first(col(c)).as(c)) :+
        max_by(col("__cent_id"), struct(col("__cc"), (-col("__cent_id")).as("__nid")))
          .as("cell")): _*)
      .select((("vec_id" +: others) :+ "cell").map(col): _*)
  }

  /** Deterministic Lloyd: init = first nCent vectors (rounded 6 dp);
    * per iteration, assign by rounded cosine then update each non-empty
    * cell's centroid from INTEGER sums (floor(x*1000) summed as long →
    * one double division → round 6 dp), so the update is summation-order
    * independent and the DuckDB twin reproduces it bit-for-bit. Driver
    * state is O(nCent × dim) — ≤ 4096 × 64 doubles (2 MB) at the cap. */
  private def trainCentroids(e: DataFrame, nCent: Int,
      forceJoin: Boolean = false): Seq[(Int, Array[Double])] = {
    import org.apache.spark.sql.Row
    var cents: Seq[(Int, Array[Double])] = e.filter(col("vec_id") < nCent)
      .orderBy("vec_id").select("vec_id", "embedding").collect().toSeq
      .map((r: Row) => (r.getLong(0).toInt,
        r.getSeq[Float](1).map(f => round6(f.toDouble)).toArray))
    val dim = cents.head._2.length
    (1 to KMeansIters).foreach { _ =>
      val assigned = withCell(e, cents, forceJoin)
      val aggCols = (1 to dim).map(d =>
        sum(floor(element_at(col("embedding"), d).cast("double") * 1000).cast("long"))
          .as(s"s$d")) :+ count(lit(1)).as("cnt")
      val rows = assigned.groupBy(col("cell")).agg(aggCols.head, aggCols.tail: _*).collect()
      cents = rows.toSeq.map { r =>
        val cnt = r.getLong(dim + 1)
        (r.getInt(0),
          (1 to dim).map(d => round6(r.getLong(d) / (cnt * 1000.0))).toArray)
      }.sortBy(_._1)
    }
    cents
  }

  /** a4: IVF ANN with the trained quantizer — assignment is a narrow map
    * stage against LITERAL centroids (no join at all for the corpus
    * side up to CellCompileCutover cells, broadcast join above it),
    * queries probe their ⌊√cells⌋ nearest cells, and the
    * candidate join touches ~nprobe/cells of the corpus. At
    * 100 TB the cell is the partition key; training cost is
    * KMeansIters × one scan + an 8-row aggregate. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    ivfTopKImpl(s, dir, forceJoin = false)

  private[graft] def ivfTopKImpl(s: SparkSession, dir: String,
      forceJoin: Boolean): DataFrame = {
    import s.implicits._
    // one pass: the cache-populating count IS the corpus count the cell
    // ladder needs (the previous separate parquet-count job cost a full
    // extra job before training even started)
    val e = emb(s, dir).withColumn("nrm", norm($"embedding")).persist()
    val nCent = nCentroidsFor(e.count())
    val nProbe = nProbeFor(nCent)
    try {
      val cents = trainCentroids(e, nCent, forceJoin)
      val cells = withCell(e, cents, forceJoin)
        .select($"vec_id", $"embedding", $"nrm", $"cell")
      // query probes: nProbe nearest centroids by (cosine desc, id asc) —
      // queries are few, so the probe ranking always uses the literal
      // explode (cells × NQueries rows, driver-free)
      val probeStructs = array(cents.map { case (k, c) =>
        struct(centCos(c).as("cc"), lit(k).as("cell")) }: _*)
      val wProbe = Window.partitionBy($"query_id").orderBy($"cc".desc, $"cell".asc)
      val qp = e.filter($"vec_id" < NQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q"), $"nrm".as("qnrm"),
          explode(probeStructs).as("pc"))
        .select($"query_id", $"q", $"qnrm",
          $"pc".getField("cc").as("cc"), $"pc".getField("cell").as("cell"))
        .withColumn("rn", row_number().over(wProbe))
        .filter($"rn" <= nProbe)
        .select($"query_id", $"q", $"qnrm", $"cell")
      val joined = cells.join(broadcast(qp), Seq("cell"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          round(dot($"q", $"embedding") / ($"qnrm" * $"nrm"), 6).as("cosine"))
      val w = Window.partitionBy($"query_id")
        .orderBy($"cosine".desc, $"neighbor_id".asc)
      joined.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= IvfK)
        .orderBy($"query_id", $"rank")
    } finally
      // training (the only consumer that re-scans) is done: holding the
      // cache would leak a persisted RDD into the shared session per
      // verify/bench invocation; the returned plan re-reads parquet once
      e.unpersist()
  }

  /** One SQL k-means assignment pass under centroid CTE `cCte`. */
  private def assignSql(cCte: String): String =
    s"""SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_dot_product(c.cv, e.embedding::DOUBLE[]) /
       |          (sqrt(list_dot_product(c.cv, c.cv)) *
       |           sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) DESC,
       |        c.cent_id ASC) AS rn
       |    FROM embeddings e, $cCte c) t WHERE rn = 1""".stripMargin

  /** Integer-exact centroid update from assignment CTE `aCte` (dims
    * unrolled — the embeddings table is 64-dimensional). */
  private def updateSql(aCte: String, dim: Int): String = {
    val dims = (1 to dim).map(d =>
      s"round(sum(CAST(floor(embedding[$d]::DOUBLE*1000) AS BIGINT))/(count(*)*1000.0), 6)")
      .mkString(", ")
    s"SELECT cell AS cent_id, [$dims] AS cv FROM $aCte GROUP BY cell"
  }

  def ivfTopKSql: String = ivfTopKSqlForDim(64)

  private[operators] def ivfTopKSqlForDim(dim: Int): String =
    s"""WITH nc AS (
       |  SELECT $nCentroidsSqlExpr AS nc, $nProbeSqlExpr AS npc FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cent_id, list_transform(embedding, x -> round(x::DOUBLE, 6)) AS cv
       |  FROM embeddings, nc WHERE vec_id < nc.nc),
       |a0 AS (${assignSql("c0")}),
       |c1 AS (${updateSql("a0", dim)}),
       |a1 AS (${assignSql("c1")}),
       |c2 AS (${updateSql("a1", dim)}),
       |cells AS (${assignSql("c2")}),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |qp AS (SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, c.cent_id AS cell,
       |    row_number() OVER (PARTITION BY q.query_id ORDER BY
       |      round(list_dot_product(c.cv, q.qv::DOUBLE[]) /
       |        (sqrt(list_dot_product(c.cv, c.cv)) *
       |         sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) DESC,
       |      c.cent_id ASC) AS rn
       |  FROM q, c2 c) t WHERE rn <= (SELECT npc FROM nc)),
       |sims AS (
       |  SELECT qp.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(qp.qv::DOUBLE[], e.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(qp.qv::DOUBLE[], qp.qv::DOUBLE[])) *
       |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine
       |  FROM cells e JOIN qp ON e.cell = qp.cell AND e.vec_id != qp.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM sims) WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin
}
