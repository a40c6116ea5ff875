package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Pins.PinnedDataset
import GraftQuery.{md5Bucket, sqlMd5Bucket}

/** Approximate/exact nearest-neighbor search over the `embeddings` table.
  *
  * Shares the exact-decimal cosine machinery of [[Dedup]] (float ->
  * double -> decimal(12,6) components; exact decimal dot/norm sums; one
  * final double expression), so every query is DuckDB-oracle-checkable.
  *
  * Scale story:
  *  - s01 brute-force is the correctness baseline: one shuffle keyed on
  *    component position, then a per-query top-k window. At 100 TB you
  *    only run it over candidate sets.
  *  - s02 IVF restricts search to the query's coarse cell, with
  *    centroids computed from the vectors alone by a deterministic
  *    k-means (Lloyd) iteration — probe cost drops by the number of
  *    cells; centroids are tiny and broadcast.
  *  - s03 sign-LSH buckets vectors by hyperplane-sign sketch so candidate
  *    generation is a bucket equi-join (no all-pairs anywhere); Spark-only
  *    (rows-only check) because the hyperplanes are jvm-seeded.
  */
object Similarity {

  private val NQUERIES = 5 // vec_id < 5 act as the query set
  private val TOPK = 10
  private val MMRK = 3 // MMR selection steps per query (s09)

  /** Exact brute-force top-k per query vector (shared by s01 and the
    * s05 recall measurement).
    *
    * Arithmetic is the d05-proven scaled-long form: components become
    * round(x*1e6) longs, the dot is one codegen'd [[dot_i64]] per
    * (query, corpus) row, norms divide the exact i64 self-dot by 1e12.
    * The previous spelling (posexplode x decimal(25,12) join-aggregate)
    * was exact too but ~40x slower: 6.4M decimal multiply-accumulates
    * through a 64-key shuffle measured 261 s at sf1 vs ~6 s for this
    * form. The broadcast side is NQUERIES rows — the nested-loop expand
    * over it is a map-side operation, no corpus shuffle at any size.
    */
  /** (vec_id, c scaled-long components, nrm) — the staged exact-cosine
    * vector table shared by s01/s05/s09. */
  private def scaledVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftnative.functions.dot_i64
    Tables.load(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding",
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("c"))
      .select($"vec_id", $"c",
        sqrt(dot_i64($"c", $"c").cast("double") / lit(1.0e12)).as("nrm"))
      // pin: the interpreted transform is evaluated once per vector, not
      // re-inlined into the pair-level projection
      .pin()
  }

  private def bruteDf(s: SparkSession, dir: String): DataFrame =
    bruteFromStaged(s, scaledVecs(s, dir))

  /** [[bruteDf]] over an ALREADY-STAGED [[scaledVecs]] table — s09
    * shares one staging pass between candidate generation and its
    * pairwise sims instead of scanning the corpus twice. */
  private def bruteFromStaged(s: SparkSession, v: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftnative.functions.dot_i64
    val q = v.filter($"vec_id" < NQUERIES)
      .select($"vec_id".as("qid"), $"c".as("qc"), $"nrm".as("qnrm"))
    val cos = v.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("neighbor_id"),
        ((dot_i64($"qc", $"c").cast("double") / lit(1.0e12)) /
          ($"qnrm" * $"nrm")).as("cosine"))
    val w = Window.partitionBy($"qid")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    cos.withColumn("rank", row_number().over(w))
      .filter($"rank" <= TOPK)
  }

  /** Oracle CTE: each embedding's scaled-long components (vec_id, i, c). */
  private val sqlComp = """comp AS (
          SELECT vec_id,
            unnest(range(len(embedding))) i,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) c
          FROM embeddings
        )"""

  /** [[sqlComp]] and the 1e12-scaled norms `nrm`(vec_id, nrm). */
  private val sqlCompNrm = sqlComp + """,
        nrm AS (
          SELECT vec_id,
            sqrt(CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE)
              / 1000000000000.0) nrm
          FROM comp GROUP BY vec_id
        )"""

  /** Oracle CTEs `dot`/`cos`: exact cosine of every query against every
    * other vector (the s01 candidate set). */
  private val sqlBruteCos = s"""
        dot AS (
          SELECT q.vec_id qid, c.vec_id neighbor_id,
            CAST(SUM(q.c * c.c) AS BIGINT) dot
          FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id <> c.vec_id
          WHERE q.vec_id < $NQUERIES
          GROUP BY 1, 2
        ),
        cos AS (
          SELECT d.qid, d.neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0)
              / (nq.nrm * nc.nrm) AS cosine
          FROM dot d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nc ON nc.vec_id = d.neighbor_id
        )"""

  /** Oracle tail: the top `n` rows of `cos` per query, ties id-ascending. */
  private def sqlTopRank(n: Int): String = s"""
        SELECT qid, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER
            (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM cos) t
        WHERE rank <= $n"""

  /** Oracle CTEs `nrm`/`dot`/`cos`: exact-cosine re-rank of the
    * (qid, vec_id) rows of an LSH candidate CTE `cand` (s03, s13). */
  private val sqlLshRerank = """
        nrm AS (
          SELECT vec_id,
            sqrt(CAST(CAST(SUM(c*c) AS BIGINT) AS DOUBLE) / 1000000000000.0) nrm
          FROM comp GROUP BY vec_id
        ),
        dot AS (
          SELECT ca.qid, ca.vec_id, CAST(SUM(qc.c * cc.c) AS BIGINT) AS dot
          FROM cand ca
            JOIN comp qc ON qc.vec_id = ca.qid
            JOIN comp cc ON cc.vec_id = ca.vec_id AND cc.i = qc.i
          GROUP BY 1, 2
        ),
        cos AS (
          SELECT d.qid, d.vec_id AS neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (nq.nrm * nn.nrm)
              AS cosine
          FROM dot d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nn ON nn.vec_id = d.vec_id
        )"""

  /** Oracle CTEs `dot`/`cos`: exact-cosine re-rank of the (qid, vec_id)
    * rows of an IVF-cell candidate CTE `cand` (s14, s23). */
  private val sqlCellRerank = """
        dot AS (
          SELECT ca.qid, ca.vec_id, CAST(SUM(qc.c * cc2.c) AS BIGINT) dot
          FROM cand ca
            JOIN comp qc ON qc.vec_id = ca.qid
            JOIN comp cc2 ON cc2.vec_id = ca.vec_id AND cc2.i = qc.i
          GROUP BY 1, 2
        ),
        cos AS (
          SELECT d.qid, d.vec_id neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (nq.nrm * nn.nrm)
              AS cosine
          FROM dot d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nn ON nn.vec_id = d.vec_id
        )"""

  /** Oracle SQL of [[bruteDf]] — the same scaled-long construction d05
    * proved hash-identical across engines. */
  private val sqlBrute = s"""
        WITH $sqlCompNrm,$sqlBruteCos${sqlTopRank(TOPK)}"""

  private val K = 3          // coarse cells
  private val KMEANS_ITERS = 2 // Lloyd steps (assign, update, assign)

  /** IVF probe with centroids COMPUTED FROM THE VECTORS ALONE — a
    * deterministic k-means (Lloyd) iteration, then exact search within
    * the query's cell (shared by s02 and the s05 recall measurement).
    *
    * Cross-engine determinism (every step DuckDB-oracle-checked):
    *  - seeds = the first K vectors by id;
    *  - centroid = per-cell component SUM as exact longs (cosine routing
    *    is scale-invariant, so sum == mean and nothing divides);
    *  - assignment score = exact-integer dot cast to double over raw
    *    norms — identical IEEE expressions in both engines, ties broken
    *    cell-ascending via row_number.
    *
    * Scale story: each Lloyd step is one broadcast of K centroid arrays
    * + a map-side argmax per vector + a partial-aggregated component
    * sum — the canonical distributed k-means; no step touches pairs.
    * Long dots bound the corpus per cell to ~1e12 scaled units
    * (~1M vectors x 64 dims at unit scale) before the centroid sum needs
    * the decimal re-spelling; mean-rescaling each round lifts that
    * entirely at 100 TB.
    */
  /** Shared deterministic k-means core: (v, members) where v = staged
    * scaled-long vectors with both norms and members = (vec_id, cell)
    * after KMEANS_ITERS Lloyd steps. Used by s02 (IVF probe) and s05
    * (recall ground-truthing); s07 routes through the equivalent
    * AnnOps.kmeansCells facade (same seeds and arithmetic — the oracle
    * pins it there).
    */
  private def kmeansMembers(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.graftnative.functions.dot_i64
    val v = Tables.load(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding",
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("c"))
      .select($"vec_id", $"c",
        // 1e12-scaled norm (final cosine) + raw norm (routing score):
        // spelled separately so each matches its oracle expression
        // double-for-double
        sqrt(dot_i64($"c", $"c").cast("double") / lit(1.0e12)).as("nrm"),
        sqrt(dot_i64($"c", $"c").cast("double")).as("nrmr"))
      .pin()

    // the Lloyd rounds are AnnOps's one loop, the one s07 runs: each
    // round is one map pass that assigns every vector against the
    // broadcast K-row centroid table (no N×K explode, no row_number
    // window shuffle) and pre-combines the per-cell component sums
    // map-side. Its seeds, the K smallest ids, are the rows vec_id < K
    // (vec_id is dense from 0), and its arithmetic is bit-identical to
    // the declarative spelling the s02 oracle pins — see the kernels'
    // scaladocs.
    val (members, _, _) = graft.operators.AnnOps.kmeans(
      v.withColumnRenamed("vec_id", "id"), K, KMEANS_ITERS)
    (v, members.withColumnRenamed("id", "vec_id"))
  }

  private def ivfDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftnative.functions.dot_i64
    val (v, members) = kmeansMembers(s, dir)

    // exact search within the query's own cell
    val qcell = members.filter($"vec_id" < NQUERIES)
      .select($"vec_id".as("qid"), $"cell")
    val qv = v.filter($"vec_id" < NQUERIES)
      .select($"vec_id".as("qid"), $"c".as("qc"), $"nrm".as("qnrm"))
    val cos = members.join(broadcast(qcell), Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .join(v, Seq("vec_id"))
      .join(broadcast(qv), Seq("qid"))
      .select($"qid", $"cell", $"vec_id".as("neighbor_id"),
        ((dot_i64($"qc", $"c").cast("double") / lit(1.0e12)) /
          ($"qnrm" * $"nrm")).as("cosine"))
    val w = Window.partitionBy($"qid")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    cos.withColumn("rank", row_number().over(w))
      .filter($"rank" <= lit(5))
  }

  /** Oracle CTE chain for the deterministic k-means — the two Lloyd
    * steps unrolled, ending in `assign2`(vec_id, cell). Shared prefix of
    * the s02 and s07 oracles (SQL analog of [[kmeansMembers]]).
    * `srcSql` is the (vec_id, embedding) corpus the clustering runs
    * over — it must be the SAME row set the Spark side stages
    * (k-means is global, so a corpus mismatch between engine and
    * oracle diverges every assignment; s14 clusters the
    * documents-joined subset, not raw embeddings).
    */
  private[queries] def sqlKmeansCtesOver(srcSql: String): String =
    s"""comp AS (
          SELECT vec_id,
            unnest(range(len(embedding))) i,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) c
          FROM ($srcSql)
        ),""" + sqlKmeansTail

  private[queries] lazy val sqlKmeansCtes: String =
    sqlKmeansCtesOver("SELECT vec_id, embedding FROM embeddings")

  /** Oracle CTE `nrm`(vec_id, nrm, nrmr): the 1e12-scaled norm (final
    * cosine) and the raw norm (routing score) of every `comp` vector. */
  private def sqlNrmBoth: String = """
        nrm AS (
          SELECT vec_id,
            sqrt(CAST(CAST(SUM(c*c) AS BIGINT) AS DOUBLE)
              / 1000000000000.0) nrm,
            sqrt(CAST(CAST(SUM(c*c) AS BIGINT) AS DOUBLE)) nrmr
          FROM comp GROUP BY vec_id
        )"""

  // a def so sqlKmeansCtesOver is order-independent of object init
  private def sqlKmeansTail: String = sqlNrmBoth + s""",
        cent0 AS (
          SELECT vec_id AS cell, i, c AS s FROM comp WHERE vec_id < $K
        ),""" + sqlLloydCtes("comp")

  /** The two unrolled Lloyd steps from the seed table `cent0`: rounds
    * train on the `train` components, the final assignment `assign2`
    * scores every `comp` vector against `cent1`. */
  private def sqlLloydCtes(train: String): String = s"""
        cnrm0 AS (
          SELECT cell, sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE))
            cnrmr
          FROM cent0 GROUP BY cell
        ),
        score1 AS (
          SELECT v.vec_id, ct.cell,
            CAST(CAST(SUM(v.c * ct.s) AS BIGINT) AS DOUBLE) AS dot
          FROM $train v JOIN cent0 ct ON v.i = ct.i
          GROUP BY 1, 2
        ),
        assign1 AS (
          SELECT vec_id, cell FROM (
            SELECT s.vec_id, s.cell, row_number() OVER (
              PARTITION BY s.vec_id
              ORDER BY s.dot / (n.nrmr * c0.cnrmr) DESC, s.cell ASC) rn
            FROM score1 s
              JOIN nrm n ON n.vec_id = s.vec_id
              JOIN cnrm0 c0 ON c0.cell = s.cell) t
          WHERE rn = 1
        ),
        cent1 AS (
          SELECT a.cell, c.i, CAST(SUM(c.c) AS BIGINT) s
          FROM assign1 a JOIN $train c ON c.vec_id = a.vec_id
          GROUP BY 1, 2
        ),
        cnrm1 AS (
          SELECT cell, sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE))
            cnrmr
          FROM cent1 GROUP BY cell
        ),
        score2 AS (
          SELECT v.vec_id, ct.cell,
            CAST(CAST(SUM(v.c * ct.s) AS BIGINT) AS DOUBLE) AS dot
          FROM comp v JOIN cent1 ct ON v.i = ct.i
          GROUP BY 1, 2
        ),
        assign2 AS (
          SELECT vec_id, cell FROM (
            SELECT s.vec_id, s.cell, row_number() OVER (
              PARTITION BY s.vec_id
              ORDER BY s.dot / (n.nrmr * c1.cnrmr) DESC, s.cell ASC) rn
            FROM score2 s
              JOIN nrm n ON n.vec_id = s.vec_id
              JOIN cnrm1 c1 ON c1.cell = s.cell) t
          WHERE rn = 1
        )"""

  /** The s15 frozen-training CTEs over `comp`, `nrm` and the seed ids
    * `oldid`: the K smallest old ids seed, the rounds train on the old
    * rows only (`tcomp`), and `assign2` places every vector. */
  private def sqlFrozenLloydCtes: String = s"""
        tcomp AS (
          SELECT c.vec_id, c.i, c.c FROM comp c
          JOIN oldid o ON o.vec_id = c.vec_id
        ),
        seeds AS (
          SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id FROM oldid ORDER BY vec_id LIMIT $K)
        ),
        cent0 AS (
          SELECT s.cell, c.i, CAST(SUM(c.c) AS BIGINT) s
          FROM seeds s JOIN comp c ON c.vec_id = s.vec_id GROUP BY 1, 2
        ),""" + sqlLloydCtes("tcomp")

  /** Oracle SQL of [[ivfDf]]. */
  private val sqlIvf = s"""
        WITH $sqlKmeansCtes,
        q AS (
          SELECT vec_id qid, cell FROM assign2 WHERE vec_id < $NQUERIES
        ),
        cand AS (
          SELECT q.qid, q.cell, a.vec_id
          FROM q JOIN assign2 a ON a.cell = q.cell AND a.vec_id <> q.qid
        ),
        dot AS (
          SELECT ca.qid, ca.cell, ca.vec_id,
            CAST(SUM(qc.c * cc2.c) AS BIGINT) dot
          FROM cand ca
            JOIN comp qc ON qc.vec_id = ca.qid
            JOIN comp cc2 ON cc2.vec_id = ca.vec_id AND cc2.i = qc.i
          GROUP BY 1, 2, 3
        ),
        cos AS (
          SELECT d.qid, d.cell, d.vec_id neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (nq.nrm * nn.nrm)
              AS cosine
          FROM dot d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nn ON nn.vec_id = d.vec_id
        )
        SELECT qid, cell, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER
            (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM cos) t
        WHERE rank <= 5"""

  // ------------------------------------------------ PQ-ADC (s08)

  private val PQ_M = 4      // subspaces over the 64-dim embeddings
  private val PQ_DSUB = 16  // dims per subspace
  private val PQ_KS = 4     // codes (centroids) per subspace
  private val PQ_ITERS = 2  // Lloyd steps per codebook, matching s02

  /** Product-quantization ANN with an asymmetric-distance (ADC) scan —
    * the memory-bound production method: each vector is stored as M
    * sub-codes (here 4 x 2 bits vs 64 x 8 B raw = the compression that
    * lets a 100 TB corpus's scan set fit executor memory), and a query
    * scores a vector by summing M table lookups instead of a 64-dim
    * dot product.
    *
    * Construction is fully deterministic and oracle-checked end-to-end:
    *  - per-subspace codebooks come from the SAME Lloyd loop the
    *    s02/s07 k-means runs (`AnnOps.kmeans`, one call per subspace
    *    slice: broadcast centroid table + map-pass argmax; seeds = the
    *    PQ_KS smallest ids' subvectors, cosine routing, ties
    *    cell-ascending);
    *  - codes and per-(query, subspace, code) partial dots are exact
    *    scaled-long integer arithmetic; the ONLY floating-point step is
    *    the final sum/1e12 division, an identical IEEE expression in
    *    both engines.
    *
    * Scale story: codebook build is M tiny broadcasts + map passes; the
    * ADC scan joins the (vec_id, m, code) table against a broadcast
    * NQ x M x KS lookup table and partial-aggregates the per-pair sum
    * map-side — no shuffle carries more than |corpus| x M skinny rows.
    * The final per-query top-k window mirrors s01/s02 (bounded by the
    * ranked candidate count; the TopKBy aggregator is the 100 TB
    * replacement, q42).
    */
  private def pqDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftnative.functions.dot_i64
    val full = Tables.load(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding",
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("c"))
      .pin() // staged once; M subspace slices read it
    val perM = (0 until PQ_M).map { m =>
      val sub = full.select($"vec_id",
          slice($"c", m * PQ_DSUB + 1, PQ_DSUB).as("c"))
        .withColumn("nrmr", sqrt(dot_i64($"c", $"c").cast("double")))
        .pin()
      // one cosine-cells call per subspace slice: AnnOps's Lloyd loop,
      // seeded by the PQ_KS smallest ids (the rows vec_id < PQ_KS)
      val (members, cent, _) = graft.operators.AnnOps.kmeans(
        sub.withColumnRenamed("vec_id", "id"), PQ_KS, PQ_ITERS)
      // this subspace's ADC lookup table: queries' subvectors x the
      // FINAL centroid table (the one the last assignment used)
      val qsub = sub.filter($"vec_id" < NQUERIES)
        .select($"vec_id".as("qid"), $"c".as("qc"))
      val lut = qsub.crossJoin(cent.select($"cell".as("code"), $"cc"))
        .select($"qid", $"code", dot_i64($"qc", $"cc").as("pdot"))
      (members.select($"id".as("vec_id"), $"cell".as("code"),
          lit(m).as("m")),
        lut.select($"qid", $"code", $"pdot", lit(m).as("m")))
    }
    val codes = perM.map(_._1).reduce(_ unionByName _)
    val luts = perM.map(_._2).reduce(_ unionByName _)
    val scored = codes.join(broadcast(luts), Seq("m", "code"))
      .filter($"vec_id" =!= $"qid")
      .groupBy($"qid", $"vec_id")
      .agg((sum($"pdot").cast("double") / lit(1.0e12)).as("approx_dot"))
    val w = Window.partitionBy($"qid")
      .orderBy($"approx_dot".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= lit(5))
      .select($"qid", $"vec_id".as("neighbor_id"), $"approx_dot", $"rank")
  }

  /** One subspace's oracle CTE chain (suffix `_m`): the two Lloyd steps
    * unrolled over the subvector components — the s02 pattern with an
    * i-range filter — ending in `part$m`(vec_id, qid, pdot). */
  private def sqlPqSubspace(m: Int): String = {
    val lo = m * PQ_DSUB
    val hi = lo + PQ_DSUB
    s"""scomp$m AS (
          SELECT vec_id, i - $lo AS i, c FROM comp
          WHERE i >= $lo AND i < $hi
        ),
        snrm$m AS (
          SELECT vec_id,
            sqrt(CAST(CAST(SUM(c*c) AS BIGINT) AS DOUBLE)) nrmr
          FROM scomp$m GROUP BY vec_id
        ),
        cent0_$m AS (
          SELECT vec_id AS cell, i, c AS s FROM scomp$m
          WHERE vec_id < $PQ_KS
        ),
        cnrm0_$m AS (
          SELECT cell,
            sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) cnrmr
          FROM cent0_$m GROUP BY cell
        ),
        score1_$m AS (
          SELECT v.vec_id, ct.cell,
            CAST(CAST(SUM(v.c * ct.s) AS BIGINT) AS DOUBLE) AS dot
          FROM scomp$m v JOIN cent0_$m ct ON v.i = ct.i
          GROUP BY 1, 2
        ),
        assign1_$m AS (
          SELECT vec_id, cell FROM (
            SELECT s.vec_id, s.cell, row_number() OVER (
              PARTITION BY s.vec_id
              ORDER BY s.dot / (n.nrmr * c0.cnrmr) DESC, s.cell ASC) rn
            FROM score1_$m s
              JOIN snrm$m n ON n.vec_id = s.vec_id
              JOIN cnrm0_$m c0 ON c0.cell = s.cell) t
          WHERE rn = 1
        ),
        cent1_$m AS (
          SELECT a.cell, c.i, CAST(SUM(c.c) AS BIGINT) s
          FROM assign1_$m a JOIN scomp$m c ON c.vec_id = a.vec_id
          GROUP BY 1, 2
        ),
        cnrm1_$m AS (
          SELECT cell,
            sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) cnrmr
          FROM cent1_$m GROUP BY cell
        ),
        score2_$m AS (
          SELECT v.vec_id, ct.cell,
            CAST(CAST(SUM(v.c * ct.s) AS BIGINT) AS DOUBLE) AS dot
          FROM scomp$m v JOIN cent1_$m ct ON v.i = ct.i
          GROUP BY 1, 2
        ),
        assign2_$m AS (
          SELECT vec_id, cell FROM (
            SELECT s.vec_id, s.cell, row_number() OVER (
              PARTITION BY s.vec_id
              ORDER BY s.dot / (n.nrmr * c1.cnrmr) DESC, s.cell ASC) rn
            FROM score2_$m s
              JOIN snrm$m n ON n.vec_id = s.vec_id
              JOIN cnrm1_$m c1 ON c1.cell = s.cell) t
          WHERE rn = 1
        ),
        lut$m AS (
          SELECT q.vec_id AS qid, ct.cell AS code,
            CAST(SUM(q.c * ct.s) AS BIGINT) pdot
          FROM scomp$m q JOIN cent1_$m ct ON q.i = ct.i
          WHERE q.vec_id < $NQUERIES
          GROUP BY 1, 2
        ),
        part$m AS (
          SELECT a.vec_id, l.qid, l.pdot
          FROM assign2_$m a JOIN lut$m l ON l.code = a.cell
        )"""
  }

  private def sqlPq: String = {
    val subs = (0 until PQ_M).map(sqlPqSubspace).mkString(",\n        ")
    val parts = (0 until PQ_M).map(m => s"SELECT * FROM part$m")
      .mkString("\n          UNION ALL ")
    s"""
        WITH $sqlComp,
        $subs,
        adc AS (
          SELECT qid, vec_id,
            CAST(CAST(SUM(pdot) AS BIGINT) AS DOUBLE) / 1000000000000.0
              AS approx_dot
          FROM (
          $parts)
          WHERE vec_id <> qid
          GROUP BY 1, 2
        )
        SELECT qid, neighbor_id, approx_dot, rank FROM (
          SELECT qid, vec_id AS neighbor_id, approx_dot,
            row_number() OVER (
              PARTITION BY qid ORDER BY approx_dot DESC, vec_id ASC) rank
          FROM adc) t
        WHERE rank <= 5"""
  }

  /** Each document's embedding labelled with the document's source
    * (vec_id, embedding, source): the filtered-ANN corpus. */
  private def sourcedEmb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.load(s, dir, "documents")
      .select($"doc_id", $"source")
    Tables.load(s, dir, "embeddings")
      .join(src, $"vec_id" === $"doc_id")
      .select($"vec_id", $"embedding", $"source")
  }

  /** One s15-family increment into the durable semantic-dedup index at
    * `idxDir`: threshold 0.35, K cells frozen after 2 Lloyd rounds. */
  private def semanticInc(batch: DataFrame, idxDir: String, id: Long,
      probe: Boolean = true): DataFrame =
    graft.index.SemanticIndex.incrementalSemanticDedupDurable(
      batch, "vec_id", "embedding", idxDir, id,
      threshold = 0.35, cells = K, iters = 2, probe = probe)

  /** vec_id's md5 bucket mod 100: the p05 split every incremental and
    * lifecycle query batches by. */
  private def vecPct: Column = md5Bucket(col("vec_id")) % 100

  // s16/s17 fixture: embeddings plus an identical-embedding family
  // (copies of vec 0's vector at offset ids) — the SemDeDup
  // boilerplate pathology the hot-cell guard exists for: identical
  // vectors share one deterministic argmax cell at ANY cell count, so
  // the family is O(m²) inside one cell with no cap.
  private val FAM_M = 40
  private val FAM_OFFSET = 100000L
  private val CELL_CAP = 100

  private def identicalFamilyFixture(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    // loud collision guard (the d13-fixture discipline): a base vec_id
    // aliasing a planted family id would silently corrupt every count
    val base = emb.select(
      when($"vec_id" < FAM_OFFSET, $"vec_id")
        .otherwise(raise_error(lit(
          s"s16: vec_id >= $FAM_OFFSET collides with family ids"))
          .cast("long")).as("vec_id"),
      $"embedding")
    val fam = emb.filter($"vec_id" < FAM_M)
      .crossJoin(emb.filter($"vec_id" === 0)
        .select($"embedding".as("fam_embedding")))
      .select(($"vec_id" + FAM_OFFSET).as("vec_id"),
        $"fam_embedding".as("embedding"))
    base.unionByName(fam)
  }

  /** Oracle CTE spelling of [[identicalFamilyFixture]]. */
  private val sqlFamilyCorpus = s"""
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT e.vec_id + $FAM_OFFSET AS vec_id, z.embedding
          FROM embeddings e,
            (SELECT embedding FROM embeddings WHERE vec_id = 0) z
          WHERE e.vec_id < $FAM_M"""

  /** Shared saturated-cell CTEs over `assign2`: occupancy, the
    * signature table of saturated-cell members (null / zero-norm rows
    * excluded — the engine contract; grouping by md5 of the component
    * string equals grouping by the exact component list), and the
    * min-id representative per (cell, signature) group. Parameterized
    * by the occupancy cap. */
  private def sqlCellGuardCtes(cap: Int): String = s"""
        occ AS (
          SELECT cell, COUNT(*) AS m FROM assign2 GROUP BY cell
        ),
        sat AS (SELECT cell FROM occ WHERE m > $cap),
        fsig AS (
          SELECT a2.vec_id, a2.cell,
            md5(string_agg(CAST(c.c AS VARCHAR), ',' ORDER BY c.i))
              AS fsig
          FROM assign2 a2
            JOIN sat st ON st.cell = a2.cell
            JOIN nrm n ON n.vec_id = a2.vec_id AND n.nrm > 0
            JOIN comp c ON c.vec_id = a2.vec_id
          GROUP BY a2.vec_id, a2.cell
        ),
        grp AS (
          SELECT cell, fsig, MIN(vec_id) AS rep, COUNT(*) AS g
          FROM fsig GROUP BY 1, 2
        )"""

  /** Exact-cosine scoring of a (cell, a, b) pair CTE — the shared dot
    * spelling of sqlSemanticDedup, yielding (cell, a, b, cosine). */
  private def sqlScorePairs(pairsCte: String): String = s"""
          SELECT d.cell, d.a, d.b,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (na.nrm * nb.nrm)
              AS cosine
          FROM (
            SELECT p.cell, p.a, p.b, CAST(SUM(ca.c * cb.c) AS BIGINT) dot
            FROM $pairsCte p
              JOIN comp ca ON ca.vec_id = p.a
              JOIN comp cb ON cb.vec_id = p.b AND cb.i = ca.i
            GROUP BY 1, 2, 3) d
            JOIN nrm na ON na.vec_id = d.a
            JOIN nrm nb ON nb.vec_id = d.b"""

  /** DuckDB spelling of s16 (the capped semantic dedup over the planted
    * identical family): the s07 k-means CTEs over the family corpus,
    * the cell-guard CTEs at the s16 cap, then the three faces —
    * sub-cap exact pairs, collapse edges (null cosine), and
    * representative pairs — with the threshold applied to the scored
    * faces only. */
  private def sqlSemanticDedupCapped: String = s"""
        WITH ${sqlKmeansCtesOver(sqlFamilyCorpus)},
        ${sqlCellGuardCtes(CELL_CAP)},
        subp AS (
          SELECT x.cell, x.vec_id AS a, y.vec_id AS b
          FROM assign2 x JOIN assign2 y
            ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE x.cell NOT IN (SELECT cell FROM sat)
        ),
        collapse AS (
          SELECT f.cell, g.rep AS a, f.vec_id AS b
          FROM fsig f JOIN grp g
            ON g.cell = f.cell AND g.fsig = f.fsig
          WHERE f.vec_id <> g.rep
        ),
        repp AS (
          SELECT x.cell, x.rep AS a, y.rep AS b
          FROM grp x JOIN grp y
            ON x.cell = y.cell AND x.rep < y.rep
        ),
        subscored AS (${sqlScorePairs("subp")}),
        repscored AS (${sqlScorePairs("repp")})
        SELECT cell, a, b, cosine, saturated FROM (
          SELECT cell, a, b, cosine, 0 AS saturated FROM subscored
          WHERE cosine >= 0.45
          UNION ALL
          SELECT cell, a, b, CAST(NULL AS DOUBLE), 1 FROM collapse
          UNION ALL
          SELECT cell, a, b, cosine, 1 FROM repscored
          WHERE cosine >= 0.45) t"""

  /** DuckDB spelling of s17 (the cell-axis operating curve): per cap,
    * the d13 counting conventions (SUM(CASE) cast back to BIGINT,
    * 1-row denominators cross-joined) over the cell-partitioned pair
    * space, plus the collapse and representative-residual columns the
    * cell axis prices instead of the band axis's sat_precision. */
  private def sqlCellOccupancyCurve(caps: Seq[Int], threshold: Double)
      : String = {
    def cnt(candSql: String): String = s"""
          SELECT COUNT(*) AS cp,
            CAST(COALESCE(SUM(CASE WHEN cosine >= $threshold
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS vp
          FROM (${sqlScorePairs(s"($candSql)")})"""
    def cellPairs(where: String): String = s"""
            SELECT x.cell, x.vec_id AS a, y.vec_id AS b
            FROM assign2 x
              JOIN occ o ON o.cell = x.cell
              JOIN assign2 y ON y.cell = x.cell
                AND x.vec_id < y.vec_id
            WHERE $where"""
    val perCap = caps.map { cap =>
      s"""
        vs_$cap AS (${cnt(cellPairs(s"o.m <= $cap"))}
        ),
        sv_$cap AS (${cnt(cellPairs(s"o.m > $cap"))}
        ),
        ns_$cap AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN m > $cap THEN 1 ELSE 0
              END), 0) AS BIGINT) AS n,
            CAST(COALESCE(SUM(CASE WHEN m > $cap THEN m ELSE 0
              END), 0) AS BIGINT) AS sm
          FROM occ
        ),
        grp_$cap AS (
          SELECT f.cell, f.fsig, MIN(f.vec_id) AS rep, COUNT(*) AS g
          FROM allfsig f JOIN occ o ON o.cell = f.cell
          WHERE o.m > $cap
          GROUP BY 1, 2
        ),
        ce_$cap AS (
          SELECT CAST(COALESCE(SUM(g - 1), 0) AS BIGINT) AS ce
          FROM grp_$cap
        ),
        rp_$cap AS (${cnt(s"""
            SELECT x.cell, x.rep AS a, y.rep AS b
            FROM grp_$cap x JOIN grp_$cap y
              ON x.cell = y.cell AND x.rep < y.rep""")}
        )"""
    }.mkString(",")
    val rows = caps.map { cap =>
      s"""SELECT CAST($cap AS INT) AS max_occupancy,
            (SELECT n FROM ns_$cap) AS n_saturated_cells,
            (SELECT sm FROM ns_$cap) AS saturated_members,
            (SELECT cp FROM vs_$cap) AS candidate_pairs,
            (SELECT vp FROM vs_$cap) AS confirmed_pairs,
            (SELECT cp FROM sv_$cap) AS saturated_pairs,
            (SELECT vp FROM sv_$cap) AS saturated_confirmed_pairs,
            (SELECT ce FROM ce_$cap) AS collapse_edges,
            (SELECT cp FROM rp_$cap) AS rep_candidate_pairs,
            (SELECT vp FROM rp_$cap) AS rep_confirmed_pairs"""
    }.mkString("\n        UNION ALL ")
    s"""
        WITH ${sqlKmeansCtesOver(sqlFamilyCorpus)},
        occ AS (
          SELECT cell, COUNT(*) AS m FROM assign2 GROUP BY cell
        ),
        allfsig AS (
          SELECT a2.vec_id, a2.cell,
            md5(string_agg(CAST(c.c AS VARCHAR), ',' ORDER BY c.i))
              AS fsig
          FROM assign2 a2
            JOIN nrm n ON n.vec_id = a2.vec_id AND n.nrm > 0
            JOIN comp c ON c.vec_id = a2.vec_id
          GROUP BY a2.vec_id, a2.cell
        ),
        uncut AS (${cnt(cellPairs("1 = 1"))}
        ),$perCap,
        curve AS (
          $rows
        )
        SELECT t.*, u.cp AS uncut_candidate_pairs,
          u.vp AS uncut_confirmed_pairs,
          CASE WHEN u.vp = 0 THEN 1.0
            ELSE CAST(t.confirmed_pairs AS DOUBLE) / u.vp END
            AS pair_recall
        FROM curve t CROSS JOIN uncut u"""
  }

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "s01_knn_brute",
      // the query IS the AnnOps.bruteTopK facade call (same staged
      // scaled-long corpus, broadcast query set, exact dot_i64 cosine,
      // top-k window), oracle-pinned; bruteDf stays as s05's
      // ground-truth spelling and PipelineOpsSpec asserts the facade's
      // corpus side never shuffles
      (s, dir) => graft.operators.AnnOps.bruteTopK(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        id => id < NQUERIES, TOPK),
      Some(sqlBrute)),

    GraftQuery(
      "s02_knn_ivf",
      (s, dir) => ivfDf(s, dir),
      Some(sqlIvf)),

    // -------------------------------------------- sign-LSH bucketed ANN
    GraftQuery(
      "s03_knn_lsh",
      (s, dir) => {
        import s.implicits._
        // Random-hyperplane LSH: 12-bit sign sketch from deterministic
        // md5-derived hyperplanes; vectors sharing a query's bucket (or a
        // 1-bit-flip neighbor bucket: multiprobe) are candidates, then
        // exact cosine re-rank. Fully oracle-checkable: plane components
        // are integers (md5 hex -> unsigned 32-bit minus 2^31), vector
        // components are scaled longs, so every plane dot product — and
        // therefore every sign bit and bucket — is exact integer
        // arithmetic in both engines; the re-rank reuses the s04
        // scaled-long cosine (proven bit-identical).
        import org.apache.spark.sql.graftnative.functions.dot_i64
        val NP = 12
        val emb = Tables.load(s, dir, "embeddings")
          .select($"vec_id",
            transform($"embedding",
              x => round(x.cast("double") * lit(1000000.0)).cast("long"))
              .as("c"))
        val withNorm = emb.select($"vec_id", $"c",
          sqrt(dot_i64($"c", $"c").cast("double") / lit(1.0e12)).as("nrm"))
          .pin() // pin: keep the interpreted transform out of
                             // downstream join projections
        val cx = withNorm.select($"vec_id", posexplode($"c").as(Seq("i", "cc")))
        // hyperplane component hp_{k,i}: integer in [-2^31, 2^31); the
        // (k, i) grid is a 768-row literal (join-free plan)
        val planes = s.createDataFrame(
          for { k <- 0 until NP; i <- 0 until 64 } yield (k, i))
          .toDF("k", "i")
          .select($"k", $"i",
            (conv(substring(md5(concat($"k", lit(":"), $"i")), 1, 8), 16, 10)
              .cast("long") - lit(2147483648L)).as("hp"))
        // sketch: sign bits of the NP exact-integer plane dot products
        val dots = cx.join(broadcast(planes), Seq("i"))
          .groupBy($"vec_id", $"k")
          .agg(sum($"cc" * $"hp").as("pd"))
        val sig = dots.groupBy($"vec_id")
          .agg(sum(when($"pd" >= 0, expr("shiftleft(1L, k)"))
            .otherwise(lit(0L))).as("bucket"))
          // pin: sig feeds three separate broadcast-exchange jobs (probes,
          // cand, and the bucket join) and each would otherwise recompute
          // the full explode+plane-dot aggregation from scratch
          .pin()
        val q = sig.filter($"vec_id" < NQUERIES)
          .select($"vec_id".as("qid"), $"bucket".as("qbucket"))
        // multiprobe: query bucket + all 1-bit flips
        val probes = q.select($"qid", explode(array(
          $"qbucket" +: (0 until NP).map(b =>
            $"qbucket".bitwiseXOR(lit(1L << b))): _*))
          .as("bucket"))
          .distinct()
        val cand = broadcast(probes).join(sig, Seq("bucket"))
          .filter($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id").distinct()
        // exact cosine re-rank of candidates: in-row dot_i64 over the
        // full arrays (never an exploded component self-join)
        val qv = withNorm.filter($"vec_id" < NQUERIES)
          .select($"vec_id".as("qid"), $"c".as("qc"), $"nrm".as("qnrm"))
        // candidates are O(queries x bucket occupancy) — tiny relative to
        // the corpus; broadcast them so the corpus-side arrays never shuffle
        val cos = broadcast(cand).join(withNorm, Seq("vec_id"))
          .join(broadcast(qv), Seq("qid"))
          .select($"qid", $"vec_id".as("neighbor_id"),
            ((dot_i64($"qc", $"c").cast("double") / lit(1.0e12)) /
              ($"qnrm" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"qid")
          .orderBy($"cosine".desc, $"neighbor_id".asc)
        cos.withColumn("rank", row_number().over(w)).filter($"rank" <= TOPK)
      },
      Some(s"""
        WITH $sqlComp,
        planes AS (
          SELECT k, i,
            CAST(('0x'||substr(md5(k||':'||i),1,8)) AS BIGINT) - 2147483648 AS hp
          FROM range(12) t(k), range(64) u(i)
        ),
        pd AS (
          SELECT c.vec_id, p.k, SUM(c.c * p.hp) AS pd
          FROM comp c JOIN planes p ON c.i = p.i
          GROUP BY 1, 2
        ),
        sig AS (
          SELECT vec_id,
            SUM(CASE WHEN pd >= 0 THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END)
              AS bucket
          FROM pd GROUP BY 1
        ),
        q AS (SELECT vec_id qid, bucket qbucket FROM sig WHERE vec_id < 5),
        probes AS (
          SELECT DISTINCT qid, bucket FROM (
            SELECT qid, qbucket AS bucket FROM q
            UNION ALL
            SELECT qid, xor(qbucket, 1::BIGINT << CAST(b AS INT)) AS bucket
            FROM q, range(12) r(b)
          )
        ),
        cand AS (
          SELECT DISTINCT p.qid, s.vec_id
          FROM probes p JOIN sig s ON s.bucket = p.bucket
          WHERE s.vec_id <> p.qid
        ),
        $sqlLshRerank${sqlTopRank(10)}""")),

    // ------------------------------------------------- full kNN graph
    GraftQuery(
      "s04_knn_graph",
      (s, dir) => {
        // Directed k-nearest-neighbor graph over ALL vectors (the
        // clustering/near-dup primitive of a training-data pipeline),
        // via the broadcast kernel: the quantized corpus (~80 B/vector
        // here) broadcasts once and each partition computes its rows'
        // top-3 in a tight primitive loop — no 4M-row pair
        // materialization, no shuffle, same exact scaled-long cosine as
        // Dedup d05 (bit-identical to the grid-join spelling, see
        // AnnOps.knnGraph / PipelineOpsSpec). Spelled as the EXPLICIT
        // broadcast kernel, not knnGraphAuto: this query's oracle is the
        // exact all-pairs graph, and since round 5 the auto gate's
        // above-broadcast path is knnGraphLsh (partial recall, measured
        // in PipelineOpsSpec) — correct library default for 100 TB, but
        // not what an exact oracle can check. The exact graph beyond
        // broadcast scale is the explicit quadratic knnGraph; the scale
        // path is knnGraphLsh.
        graft.operators.AnnOps.knnGraphBroadcast(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding", 3)
      },
      Some(s"""
        WITH $sqlCompNrm,
        dot AS (
          SELECT x.vec_id src, y.vec_id neighbor_id,
            CAST(SUM(x.c * y.c) AS BIGINT) dot
          FROM comp x JOIN comp y ON x.i = y.i AND x.vec_id <> y.vec_id
          GROUP BY 1, 2
        ),
        cos AS (
          SELECT d.src, d.neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (ns.nrm * nn.nrm)
              AS cosine
          FROM dot d
            JOIN nrm ns ON ns.vec_id = d.src
            JOIN nrm nn ON nn.vec_id = d.neighbor_id
        )
        SELECT src, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER
            (PARTITION BY src ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM cos) t
        WHERE rank <= 3""")),

    // ----------------------------------------- ANN quality: recall@5
    GraftQuery(
      "s05_knn_recall",
      (s, dir) => {
        import s.implicits._
        // recall@5 of the IVF probe against exact brute-force ground
        // truth — the evaluation every ANN deployment runs before
        // trusting an index. LEFT join ground truth to IVF hits; recall
        // = matched / k (exact n/5.0 division, engine-identical).
        val truth = bruteDf(s, dir).filter($"rank" <= 5)
          .select($"qid", $"neighbor_id")
        val hits = ivfDf(s, dir)
          .select($"qid".as("iqid"), $"neighbor_id".as("ineighbor"))
        truth.join(hits,
            $"qid" === $"iqid" && $"neighbor_id" === $"ineighbor", "left")
          .groupBy($"qid")
          .agg(count($"ineighbor").as("n_matched"))
          .select($"qid", $"n_matched",
            ($"n_matched".cast("double") / 5.0).as("recall_at_5"))
      },
      Some(s"""
        SELECT b.qid, COUNT(i.neighbor_id) AS n_matched,
          CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
        FROM ($sqlBrute) b
          LEFT JOIN ($sqlIvf) i
            ON i.qid = b.qid AND i.neighbor_id = b.neighbor_id
        WHERE b.rank <= 5
        GROUP BY b.qid""")),

    // ----------------------------------- embedding-space health audit
    GraftQuery(
      "s06_embedding_stats",
      (s, dir) => {
        import s.implicits._
        // Per-dimension corpus statistics — the collapse/anisotropy
        // audit run before trusting cosine retrieval (a dimension with
        // ~zero variance is dead; one dimension dominating the others
        // means raw-dot ranking is broken). Components become exact
        // scaled longs (the d05/s01 convention) summed as DECIMAL(38,0)
        // so the per-dimension moments are integer-exact in both
        // engines at any corpus size (a raw i64 sum of c*c overflows
        // around 1e9 vectors); the only double math is the final
        // division tree, spelled identically in the oracle. Scale:
        // posexplode then hash-aggregate on the `dims` keys — map-side
        // partial aggregation emits <= dims rows per task, so the
        // shuffle carries dims rows regardless of corpus size.
        // The query IS the AnnOps.embeddingStats facade call
        // (zeroEps 0.01 == the 10000-scaled-unit cut), oracle-pinned.
        graft.operators.AnnOps.embeddingStats(
          Tables.load(s, dir, "embeddings"), "embedding", zeroEps = 0.01)
      },
      Some("""
        WITH comp AS (
          SELECT unnest(range(len(embedding))) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS c
          FROM embeddings
        ),
        a AS (
          SELECT dim, COUNT(*) AS n,
            SUM(CAST(c AS DECIMAL(38,0))) AS sc,
            SUM(CAST(c * c AS DECIMAL(38,0))) AS sc2,
            CAST(SUM(CASE WHEN abs(c) < 10000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_near_zero
          FROM comp GROUP BY dim
        )
        SELECT dim, n,
          CAST(sc AS DOUBLE) / n / 1000000.0 AS mean,
          (CAST(sc2 AS DOUBLE) / n -
            (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
            / 1000000000000.0 AS variance,
          n_near_zero
        FROM a""")),

    // ------------------------------------- semantic dedup (SemDeDup)
    GraftQuery(
      "s07_semantic_dedup",
      (s, dir) => {
        // SemDeDup (cluster-then-dedup): partition the embedding space
        // with the s02 deterministic k-means, then search for
        // near-duplicate pairs only WITHIN each cell — the published
        // recipe for semantic dedup at corpus scale, because near-dups
        // land in the same cell and the cross-cell pair space (the vast
        // majority of all pairs) is never touched. Cost is
        // sum(|cell|^2); at 100 TB the cell COUNT scales with the
        // corpus so cell sizes stay bounded (K here is 3 for the
        // oracle-checked fixture). Verification arithmetic is the d05
        // exact scaled-long cosine; the 0.45 threshold sits in the same
        // documented ulp gap (min true match 0.4516, max non-match
        // 0.4494), so the >= comparison is engine-stable.
        // The query IS the facade call, so the oracle genuinely pins
        // AnnOps.semanticNearDups (its k-means seeds — the `cells`
        // smallest ids — coincide with the s02 kmeansMembers seeds
        // vec_id < K on this table, and every arithmetic expression is
        // the same spelling).
        graft.operators.AnnOps.semanticNearDups(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45, cells = 3, iters = 2)
      },
      Some(sqlSemanticDedup)),

    // ---------------------------------------- product quantization ANN
    GraftQuery(
      "s08_knn_pq",
      (s, dir) => pqDf(s, dir),
      Some(sqlPq)),

    // ----------------------------------- int8-quantized retrieval (s10)
    GraftQuery(
      "s10_knn_quantized",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.graftnative.functions.dot_i64
        // Retrieval in p04's int8 space + the recall audit every
        // quantized index ships with: corpus vectors quantize to
        // symmetric int8 (per-vector scale = max|c|/127), candidates
        // score by the EXACT integer quantized dot rescaled by the
        // corpus side's scale/nrm (query-side constants can't change a
        // per-query ranking), recall@10 measured against the exact s01
        // ground truth. The quantized index is 8x smaller than the
        // scaled-long table — the memory story — while the dot stays
        // exact integer arithmetic.
        val v = scaledVecs(s, dir)
        val vq = v
          .withColumn("mx",
            aggregate($"c", lit(0L), (m, x) => greatest(m, abs(x))))
          .filter($"mx" > 0)
          .withColumn("scale", $"mx".cast("double") / lit(127.0))
          .withColumn("q",
            transform($"c", x => round(x.cast("double") / $"scale")
              .cast("long")))
          .pin()
        val q = vq.filter($"vec_id" < NQUERIES)
          .select($"vec_id".as("qid"), $"q".as("qq"))
        val scored = vq.join(broadcast(q), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("neighbor_id"),
            (dot_i64($"qq", $"q").cast("double") * $"scale" / $"nrm")
              .as("qscore"))
        val w = Window.partitionBy($"qid")
          .orderBy($"qscore".desc, $"neighbor_id".asc)
        val hits = scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= TOPK)
          .select($"qid".as("iqid"), $"neighbor_id".as("ineighbor"))
        bruteFromStaged(s, v).filter($"rank" <= TOPK)
          .select($"qid", $"neighbor_id")
          .join(hits,
            $"qid" === $"iqid" && $"neighbor_id" === $"ineighbor", "left")
          .groupBy($"qid")
          .agg(count($"ineighbor").as("n_matched"))
          .select($"qid", $"n_matched",
            ($"n_matched".cast("double") / lit(TOPK.toDouble))
              .as("recall_at_10"))
      },
      Some(s"""
        WITH $sqlCompNrm,
        mx AS (SELECT vec_id, MAX(ABS(c)) mx FROM comp GROUP BY 1),
        qv AS (
          SELECT comp.vec_id, comp.i,
            CAST(round(CAST(comp.c AS DOUBLE)
              / (CAST(mx.mx AS DOUBLE) / 127.0)) AS BIGINT) q,
            CAST(mx.mx AS DOUBLE) / 127.0 AS scale
          FROM comp JOIN mx USING (vec_id) WHERE mx.mx > 0
        ),
        qdot AS (
          SELECT a.vec_id qid, b.vec_id neighbor_id,
            CAST(SUM(a.q * b.q) AS BIGINT) dot
          FROM qv a JOIN qv b ON a.i = b.i AND a.vec_id <> b.vec_id
          WHERE a.vec_id < $NQUERIES
          GROUP BY 1, 2
        ),
        sc AS (SELECT DISTINCT vec_id, scale FROM qv),
        qscored AS (
          SELECT d.qid, d.neighbor_id,
            CAST(d.dot AS DOUBLE) * s.scale / n.nrm AS qscore
          FROM qdot d
            JOIN sc s ON s.vec_id = d.neighbor_id
            JOIN nrm n ON n.vec_id = d.neighbor_id
        ),
        qhits AS (
          SELECT qid, neighbor_id FROM (
            SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY qscore DESC, neighbor_id ASC) rn
            FROM qscored) t
          WHERE rn <= $TOPK
        )
        SELECT b.qid, COUNT(i.neighbor_id) AS n_matched,
          CAST(COUNT(i.neighbor_id) AS DOUBLE) / ${TOPK.toDouble}
            AS recall_at_10
        FROM ($sqlBrute) b
          LEFT JOIN qhits i
            ON i.qid = b.qid AND i.neighbor_id = b.neighbor_id
        WHERE b.rank <= $TOPK
        GROUP BY b.qid""")),

    // ------------------------------------------- MMR diverse reranking
    GraftQuery(
      "s09_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.graftnative.functions.dot_i64
        // Maximal-Marginal-Relevance reranking of each query's top-10
        // brute candidates down to 3 DIVERSE results: step 1 takes the
        // most relevant candidate; each later step takes
        // argmax(relevance - max similarity to already-selected), ties
        // id-ascending (lambda = 0.5, which orders identically to
        // rel - maxsim). All cosines are the exact scaled-long form, so
        // subtraction and argmax are engine-identical. Candidate sets
        // are k-bounded per query, so the rerank cost is O(queries *
        // k^2) — independent of corpus size; the corpus-sized work is
        // the candidate generation it shares with s01.
        val v = scaledVecs(s, dir)
        val cand = bruteFromStaged(s, v)
          .select($"qid", $"neighbor_id", $"cosine")
          .pin()
        // pairwise sims among one query's candidates (k^2 per query)
        val ids = cand.select($"qid", $"neighbor_id")
        val psim = ids.select($"qid", $"neighbor_id".as("a"))
          .join(ids.select($"qid", $"neighbor_id".as("b")), Seq("qid"))
          .filter($"a" =!= $"b")
          .join(v.select($"vec_id".as("a"), $"c".as("ac"),
            $"nrm".as("anrm")), Seq("a"))
          .join(v.select($"vec_id".as("b"), $"c".as("bc"),
            $"nrm".as("bnrm")), Seq("b"))
          .select($"qid", $"a", $"b",
            ((dot_i64($"ac", $"bc").cast("double") / lit(1.0e12)) /
              ($"anrm" * $"bnrm")).as("sim"))
          .pin()
        val w1 = Window.partitionBy($"qid")
          .orderBy($"cosine".desc, $"neighbor_id".asc)
        var sel = cand.withColumn("rn", row_number().over(w1))
          .filter($"rn" === 1)
          .select($"qid", lit(1).as("step"), $"neighbor_id",
            $"cosine".as("mmr_score"))
          .pin()
        for (step <- 2 to MMRK) {
          val maxSim = psim
            .join(sel.select($"qid", $"neighbor_id".as("b")), Seq("qid", "b"))
            .groupBy($"qid", $"a").agg(max($"sim").as("max_sim"))
          val remaining = cand.join(
            sel.select($"qid", $"neighbor_id"), Seq("qid", "neighbor_id"),
            "left_anti")
          val scored = remaining
            .join(maxSim, remaining("qid") === maxSim("qid") &&
              remaining("neighbor_id") === maxSim("a"))
            .select(remaining("qid"), $"neighbor_id",
              ($"cosine" - $"max_sim").as("score"))
          val w = Window.partitionBy($"qid")
            .orderBy($"score".desc, $"neighbor_id".asc)
          val next = scored.withColumn("rn", row_number().over(w))
            .filter($"rn" === 1)
            .select($"qid", lit(step).as("step"), $"neighbor_id",
              $"score".as("mmr_score"))
          sel = sel.unionByName(next).pin()
        }
        sel
      },
      Some(sqlMmr(MMRK))),

    // ------------------------- sharded-centroid semantic dedup (s11)
    GraftQuery(
      "s11_semantic_dedup_sharded",
      (s, dir) => {
        // s07 with the centroid table SHARDED: maxCentroidBytes=1
        // forces one cell per shard (3 shards at k=3), so the seeds and
        // every Lloyd round stage the table shard by shard — the 100 TB
        // path for centroid tables past driver memory. Shards are
        // disjoint ascending cell ranges, so the assignments are
        // BIT-IDENTICAL and the oracle is the SAME SQL as s07's
        // one-shard spelling: the driver's hash compare is the
        // end-to-end proof the sharding changes nothing but the
        // broadcast shape (plan gate: PlanInvariantsSpec's
        // no-shuffle/one-map-pass assertions on the assignment).
        graft.operators.AnnOps.semanticNearDups(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45, cells = 3, iters = 2,
          maxCentroidBytes = 1L)
      },
      Some(sqlSemanticDedup)),

    // --------------------------------- filtered vector search (s12)
    GraftQuery(
      "s12_filtered_knn",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.graftnative.functions.dot_i64
        // FILTERED vector search — "top-k WHERE metadata matches", the
        // retrieval pattern every RAG/search deployment needs.
        // POST-filtering a fixed-k candidate list loses recall (a
        // k-list can contain zero matching rows); here the filter
        // applies to the CORPUS SIDE BEFORE scoring, so cost scales
        // with the matching subset and recall within it is exact. Each
        // query (vec_id < NQUERIES) carries its document's source; the
        // candidate join requires source equality (the pre-filter) and
        // scores with the exact scaled-long cosine; top-3 per query.
        val src = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source")
        val v = scaledVecs(s, dir)
          .join(src, $"vec_id" === $"doc_id")
          .select($"vec_id", $"c", $"nrm", $"source")
          .pin()
        val q = v.filter($"vec_id" < NQUERIES)
          .select($"vec_id".as("qid"), $"c".as("qc"),
            $"nrm".as("qnrm"), $"source".as("qsource"))
        val cos = v.join(broadcast(q),
            $"source" === $"qsource" && $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("neighbor_id"),
            ((dot_i64($"qc", $"c").cast("double") / lit(1.0e12)) /
              ($"qnrm" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"qid")
          .orderBy($"cosine".desc, $"neighbor_id".asc)
        cos.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"qid", $"neighbor_id", $"cosine", $"rank")
      },
      Some(sqlFilteredBrute(s"q.vec_id < $NQUERIES"))),

    // ----------------------------- filtered ANN via scoped LSH (s13)
    GraftQuery(
      "s13_filtered_knn_lsh",
      (s, dir) => {
        // s12 composed with candidate generation: the filter key
        // (document source) is PART of the LSH band join key, so a
        // corpus row is a candidate only when it shares the query's
        // source AND collides on >= 1 sign band — filtered top-k
        // without brute-forcing the matching subset (s12's residual)
        // and without post-filtering a k-list (which loses recall).
        // Fully oracle-checkable: plane components, sign bits and band
        // codes are exact integer arithmetic (the s03 convention), the
        // re-rank is the exact scaled-long cosine. The query IS the
        // AnnOps.filteredTopKLsh facade call; recall vs the exact
        // filtered ground truth is measured in PipelineOpsSpec.
        graft.operators.AnnOps.filteredTopKLsh(
          sourcedEmb(s, dir), "vec_id", "embedding", "source",
          _ < NQUERIES, k = 3, rowsPerBand = 4, bands = 8)
      },
      Some(s"""
        WITH $sqlComp,
        planes AS (
          SELECT k, i,
            CAST(('0x'||substr(md5(k||':'||i),1,8)) AS BIGINT)
              - 2147483648 AS hp
          FROM range(32) t(k), range(64) u(i)
        ),
        pd AS (
          SELECT c.vec_id, p.k, SUM(c.c * p.hp) AS pd
          FROM comp c JOIN planes p ON c.i = p.i
          GROUP BY 1, 2
        ),
        sig AS (
          SELECT vec_id, CAST(k // 4 AS INT) AS band,
            SUM(CASE WHEN pd >= 0
              THEN (1::BIGINT << CAST(k % 4 AS INT)) ELSE 0 END) AS code
          FROM pd GROUP BY 1, 2
        ),
        ksig AS (
          SELECT s.vec_id, d.source AS key, s.band, s.code
          FROM sig s JOIN documents d ON d.doc_id = s.vec_id
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, s.vec_id
          FROM ksig q JOIN ksig s
            ON s.key = q.key AND s.band = q.band AND s.code = q.code
          WHERE q.vec_id < $NQUERIES AND s.vec_id <> q.vec_id
        ),
        $sqlLshRerank${sqlTopRank(3)}""")),

    // ------------------------------ filtered ANN via IVF cells (s14)
    GraftQuery(
      "s14_filtered_knn_ivf",
      (s, dir) => {
        // The OTHER filtered-ANN composition (s13 scopes LSH bands by
        // the filter key; here the s02 IVF structure is scoped): a
        // corpus row is a candidate iff it shares the query's k-means
        // CELL and its SOURCE — a (cell, key) equi-join over one
        // shared, reusable cluster assignment. Recall loss comes only
        // from cell boundaries (vs band non-collision for s13);
        // PipelineOpsSpec measures both spellings against the same
        // exact filtered ground truth. Fully oracle-checkable: the
        // same two unrolled Lloyd steps as s02/s07 (sqlKmeansCtes),
        // exact scaled-long cosine re-rank. The query IS the
        // AnnOps.filteredTopKIvf facade call. NOTE the oracle's
        // k-means corpus is the SAME documents-joined subset the
        // facade stages (sqlKmeansCtesOver) — k-means is global, so
        // the engine and oracle must cluster identical row sets; with
        // raw-embeddings CTEs the two sides would agree only while
        // the fixture happens to be 1:1.
        graft.operators.AnnOps.filteredTopKIvf(
          sourcedEmb(s, dir), "vec_id", "embedding", "source",
          _ < NQUERIES, k = 3, cells = K, iters = 2)
      },
      Some(s"""
        WITH ${sqlKmeansCtesOver(
          """SELECT e.vec_id, e.embedding
             FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id""")},
        ka AS (
          SELECT a.vec_id, a.cell, d.source
          FROM assign2 a JOIN documents d ON d.doc_id = a.vec_id
        ),
        q AS (
          SELECT vec_id qid, cell, source FROM ka
          WHERE vec_id < $NQUERIES
        ),
        cand AS (
          SELECT q.qid, a.vec_id
          FROM q JOIN ka a
            ON a.cell = q.cell AND a.source = q.source
              AND a.vec_id <> q.qid
        ),
        $sqlCellRerank${sqlTopRank(3)}""")),

    // ----------------- incremental semantic-dedup index (s15)
    GraftQuery(
      "s15_incremental_semantic_dedup",
      (s, dir) => {
        // The embedding-space st10: the 80% "existing" corpus (p05's
        // md5 bucket) is batch 0 — k-means trains on it ONCE and the
        // centroid table freezes in the durable index; the remaining
        // 20% arrives as TWO increments (vec_id parity), each a single
        // assign-against-frozen-centroids map pass + a within-cell
        // probe of the stored assignments. The union of the increment
        // outputs is exactly the within-cell pair set of the COMBINED
        // corpus under the frozen clustering restricted to pairs
        // touching >= 1 new doc, independent of batching — which is
        // what the batch-SQL oracle (train on old, assign all, filter
        // to touching-new) checks. The query IS the
        // SemanticIndex.incrementalSemanticDedupDurable facade composed over
        // three batches; replay/restart idempotence is pinned in
        // PipelineOpsSpec.
        val Seq(oldEmb, newEven, newOdd) =
          oldThenNewByParity(Tables.load(s, dir, "embeddings"))
        val idxDir = graft.core.StreamStore
          .scratchRoot("graft-s15-").toString
        // seed batch: train + commit only (probe = false — its
        // within-seed pairs are s07's job and would be discarded here)
        semanticInc(oldEmb, idxDir, 0L, probe = false)
        semanticInc(newEven, idxDir, 1L)
          .unionByName(semanticInc(newOdd, idxDir, 2L))
      },
      Some(sqlIncrementalSemantic)),

    // ------- incremental semantic dedup through REAL streaming (st16)
    GraftQuery(
      "st16_incremental_semantic_stream",
      (s, dir) => {
        import s.implicits._
        // s15's daily-increment pattern END-TO-END through the
        // streaming engine (the st10 discipline in embedding space):
        // the 80% corpus seeds the durable index (train + freeze, no
        // probe), then the 20% increment ARRIVES AS A STREAM — a file
        // source in 3 real microbatches (maxFilesPerTrigger) — and
        // each microbatch runs one assign-against-frozen-centroids
        // pass + a within-cell probe via foreachBatch. The union of
        // per-batch outputs equals the batch spelling INDEPENDENT of
        // how the stream was microbatched (a pair surfaces when its
        // later endpoint arrives), so the oracle is s15's verbatim.
        val emb = Tables.load(s, dir, "embeddings")
        val newEmb = emb.filter(vecPct >= 80)
        val idxDir = graft.core.StreamStore
          .scratchRoot("graft-st16-").toString
        semanticInc(emb.filter(vecPct < 80), idxDir, 0L, probe = false)
        val newDir = graft.core.StreamStore
          .scratchRoot("graft-st16-new-").toString
        newEmb.repartition(3).write.mode("overwrite").parquet(newDir)
        val stream = s.readStream.schema(newEmb.schema)
          .option("maxFilesPerTrigger", 1).parquet(newDir)
        val acc = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.DataFrame]
        graft.streaming.StreamingOps.drainForeachBatch(s, stream,
          "st16") { (batch, bid) =>
          if (!batch.isEmpty) {
            // bid + 1: microbatch ids start at 0, the seed owns 0.
            // No pre-pin: the operator's own staging (scaled → pin) is
            // the batch frame's only consumer besides the isEmpty
            // probe (round-17 job-count cut)
            acc += semanticInc(batch, idxDir, bid + 1L)
          }
        }
        acc.reduceOption(_ unionByName _)
          .getOrElse(graft.operators.AnnOps.emptyPairsFrame(s))
      },
      Some(sqlIncrementalSemantic)),

    // --------------------- hot-cell-capped semantic dedup (s16)
    GraftQuery(
      "s16_semantic_dedup_capped",
      (s, dir) => {
        import s.implicits._
        // s07's SemDeDup with the hot-CELL occupancy guard, on the
        // corpus shape the guard exists for: a planted identical-
        // embedding family (mass duplicates embed identically and
        // share one argmax cell at ANY cell count — the semantic
        // quadratic round 10 killed on the band axis, here on the cell
        // axis). Saturated cells collapse co-residents by the exact
        // full-vector signature (equality ⇒ cosine 1.0, so delegation
        // is EXACT, not probabilistic); distinct-signature
        // representatives still pair-join with exact-cosine verify.
        // The query IS the AnnOps.semanticNearDupsCapped facade call;
        // the oracle spells every face (sub-cap pairs, collapse edges,
        // rep pairs) in DuckDB, so the hash gate pins the whole capped
        // path including the signature grouping.
        graft.operators.AnnOps.semanticNearDupsCapped(
            identicalFamilyFixture(s, dir), "vec_id", "embedding",
            threshold = 0.45, cells = K, iters = 2,
            maxCellOccupancy = CELL_CAP)
          .withColumn("saturated", $"saturated".cast("int"))
      },
      Some(sqlSemanticDedupCapped)),

    // --------------------- cell-occupancy operating curve (s17)
    GraftQuery(
      "s17_cell_occupancy_curve",
      (s, dir) => {
        // How the hot-cell guard's maxCellOccupancy gets CHOSEN — the
        // d13 treatment for the cell axis, over the same planted
        // identical-family fixture. Per cap: the sub-cap join's
        // volume, the saturated volume the guard removes, what the
        // exact-signature collapse buys (collapse_edges vs
        // saturated_members — on this axis delegation is exact, so
        // there is no sat_precision to price; the quantity that
        // matters is the RESIDUAL rep_candidate_pairs quadratic), and
        // pair recall vs the uncut join. The query IS the
        // AnnOps.cellOccupancyCurve facade call; O(Σm²) BY DESIGN at
        // sample scale (the d12/d13 discipline).
        graft.operators.AnnOps.cellOccupancyCurve(
          identicalFamilyFixture(s, dir), "vec_id", "embedding",
          threshold = 0.45, cells = K, iters = 2,
          caps = Seq(32, 150, 1000))
      },
      Some(sqlCellOccupancyCurve(Seq(32, 150, 1000), 0.45))),

    // ------------------------------ filtered ANN via IVF-PQ (s18)
    GraftQuery(
      "s18_filtered_knn_ivfpq",
      (s, dir) => {
        // The production memory-scale composition: IVF cells generate
        // candidates (s14's (cell, key) equi-join, same nprobe dial),
        // an ADC scan over product-quantized codes ranks them (M
        // lookups per candidate — the scan set a 100 TB corpus can
        // actually hold), and only the ADC top-R touch full vectors
        // for the exact re-rank. Oracle by the s14 CONSTRUCTION
        // argument: at nprobe = cells and rerankDepth >= every
        // candidate, candidates are ALL source-matching rows and the
        // exact re-rank sees all of them, so the result EQUALS the
        // filtered brute force (s12's SQL) regardless of quantization
        // error — the hash gate pins the whole composition's plumbing
        // (a candidate dropped or duplicated anywhere in the
        // codes/LUT/ADC chain would change the re-rank set). The
        // recall-vs-cost face at REAL nprobe/rerankDepth is measured
        // against plain IVF and LSH at matched candidate cost in
        // PipelineOpsSpec.
        graft.operators.AnnOps.filteredTopKIvfPq(
          sourcedEmb(s, dir), "vec_id", "embedding", "source",
          _ < NQUERIES, k = 3, cells = K, iters = 2, nprobe = K,
          pqM = 4, pqKs = 4, pqIters = 2,
          rerankDepth = Int.MaxValue)
      },
      Some(sqlFilteredBrute(s"q.vec_id < $NQUERIES"))),

    // ------------------ durable-index drift audit (s19)
    GraftQuery(
      "s19_index_drift_audit",
      (s, dir) => {
        import s.implicits._
        // OBSERVABILITY for the frozen-centroid trade: s15's index
        // never re-trains, so "re-train deliberately" needs a number
        // to trigger on. A PLANTED drifting corpus — the post-seed 20%
        // shifts +0.25 per component — commits as batches 1/2 over the
        // 80% seed, and the audit reads the index's own stored
        // assignments: per batch, occupancy skew and the angular
        // distance to each row's frozen centroid, plus the headline
        // drift_vs_seed trend (positive here BY CONSTRUCTION; zero on
        // a drift-free replay, pinned in PipelineOpsSpec). The oracle
        // spells the whole path — frozen training on the seed, one
        // assignment of the drifted corpus, per-batch decimal-exact
        // distance aggregation — so the hash gate pins the audit's
        // arithmetic, not just its shape.
        val emb = Tables.load(s, dir, "embeddings")
        val drifted = emb.filter(vecPct >= 80)
          .select($"vec_id",
            transform($"embedding", x => x.cast("double") + lit(0.25d))
              .as("embedding"))
        val idxDir = graft.core.StreamStore
          .scratchRoot("graft-s19-").toString
        semanticInc(emb.filter(vecPct < 80), idxDir, 0L, probe = false)
        semanticInc(drifted.filter($"vec_id" % 2 === 0), idxDir, 1L,
          probe = false)
        semanticInc(drifted.filter($"vec_id" % 2 === 1), idxDir, 2L,
          probe = false)
        graft.index.SemanticIndex.semanticIndexDriftAudit(s, idxDir)
      },
      Some(sqlIndexDriftAudit)),

    // ---------- multi-probe filtered LSH, construction ceiling (s20)
    GraftQuery(
      "s20_filtered_knn_lsh_multiprobe",
      (s, dir) => {
        // s13's band-scoped LSH with the probeBits recall dial at its
        // construction ceiling: T = rowsPerBand probes every code
        // within each band, so each band matches every same-source
        // row and the result EQUALS the filtered brute force — the
        // nprobe = cells argument on the band axis. The hash gate
        // therefore pins the whole multi-probe expansion (mask table,
        // XOR spelling, dedup across bands/probes); the recall curve
        // at real T is measured in PipelineOpsSpec against the same
        // exact truth as the IVF dial.
        graft.operators.AnnOps.filteredTopKLsh(
          sourcedEmb(s, dir), "vec_id", "embedding", "source",
          _ < NQUERIES, k = 3, rowsPerBand = 4, bands = 8,
          probeBits = 4)
      },
      Some(sqlFilteredBruteForceTop3)),

    // ---------------- durable IVF-PQ index: build once, serve (s21)
    GraftQuery(
      "s21_ivfpq_index_serve",
      (s, dir) => {
        // The production serving shape: the corpus indexes ONCE
        // (coarse centroids + PQ codebooks/codes + stored rows, the
        // s15 index layout so the s19 drift audit runs on it
        // unchanged), then query batches arrive later and probe the
        // STORED artifacts — nothing re-clusters or re-quantizes.
        // Oracle by the construction-ceiling argument (nprobe = cells,
        // rerankDepth >= candidates ⇒ filtered brute force); the
        // stronger bit-parity with the inline filteredTopKIvfPq at
        // NON-ceiling settings is pinned in PipelineOpsSpec.
        ivfPqLifecycle(s, dir, "s21")(emb => Seq(emb))((_, _) => ())
      },
      Some(sqlFilteredBruteForceTop3)),

    // ---------- IVF-PQ index LIFECYCLE: build, append, serve (s22)
    GraftQuery(
      "s22_ivfpq_index_lifecycle",
      (s, dir) => {
        // the s15 discipline applied to serving: the 80% corpus (p05's
        // md5 bucket) builds the index — coarse centroids and PQ
        // codebooks FREEZE — and the remaining 20% arrives as TWO
        // appends (vec_id parity), each one assign-against-frozen +
        // encode-against-frozen map pass committed idempotently. The
        // serve then probes at the construction ceiling, so the oracle
        // is the filtered brute force over the UNION corpus: a row
        // lost, duplicated, or mis-stored anywhere in the append path
        // is a hash mismatch, independent of how good the frozen
        // artifacts are for the appended data.
        ivfPqLifecycle(s, dir, "s22")(oldThenNewByParity)((_, _) => ())
      },
      Some(sqlFilteredBruteForceTop3)),

    // ---- ANN index appends through REAL streaming (st17)
    GraftQuery(
      "st17_ivfpq_append_stream",
      (s, dir) => {
        // s22's lifecycle END-TO-END through the streaming engine
        // (the st16 discipline on the serving index): the 80% corpus
        // builds the index, the 20% ARRIVES AS A STREAM — a file
        // source in 3 real microbatches — and each microbatch runs
        // one appendIvfPqIndex (assign + encode against the frozen
        // artifacts, idempotent per-batch commit) via foreachBatch.
        // The ceiling serve afterwards equals the filtered brute
        // force over the union corpus NO MATTER how the stream was
        // microbatched — the same oracle as s22, so the hash gate
        // proves stream == batch for the append path. (Scaffolding
        // shared with st18 — ivfPqStreamLifecycle.)
        ivfPqStreamLifecycle(s, dir, "st17")((_, _, _) => ())
      },
      Some(sqlFilteredBruteForceTop3)),

    // --------- hot-cell-capped filtered search, BIT-parity (s23)
    GraftQuery(
      "s23_filtered_knn_capped",
      (s, dir) => {
        import s.implicits._
        // the last face of the boilerplate quadratic: filtered SEARCH
        // of a (cell, key) holding a mass-duplicate class pays the
        // class size m on every probe. Capped, saturated members
        // collapse by exact signature, only representatives score,
        // and ranking representatives expand to their group's k+1
        // smallest ids. Unlike the dedup guards this is BIT-parity —
        // identical components give the identical cosine double and
        // the uncapped top-k breaks those exact ties id-ascending —
        // so the ORACLE IS THE UNCAPPED SPELLING (the
        // equivalence-by-shared-oracle gate): the planted 40-member
        // family saturates its (cell, key) at cap 8, natural cells
        // saturate too, and the hash must not move.
        val fixture = identicalFamilyFixture(s, dir)
          .select($"vec_id", $"embedding",
            ($"vec_id" % 2).cast("string").as("grp"))
        graft.operators.AnnOps.filteredTopKIvf(
          fixture, "vec_id", "embedding", "grp",
          _ < NQUERIES, k = 3, cells = K, iters = 2,
          maxCellOccupancy = 8)
      },
      Some(s"""
        WITH ${sqlKmeansCtesOver(sqlFamilyCorpus)},
        ka AS (
          SELECT vec_id, cell, CAST(vec_id % 2 AS VARCHAR) AS grp
          FROM assign2
        ),
        q AS (
          SELECT vec_id qid, cell, grp FROM ka
          WHERE vec_id < $NQUERIES
        ),
        cand AS (
          SELECT q.qid, a.vec_id
          FROM q JOIN ka a
            ON a.cell = q.cell AND a.grp = q.grp
              AND a.vec_id <> q.qid
        ),
        $sqlCellRerank${sqlTopRank(3)}""")),

    // -------- durable-index COMPACTION, ANN family (s24)
    GraftQuery(
      "s24_ivfpq_index_compact",
      (s, dir) => {
        // s22's build + two appends, COMPACTED before the serve: the
        // nightly-append deployment's maintenance step merges
        // batches/codes into one consolidated cell-partitioned
        // generation behind an atomic swap, batch ids preserved. The
        // ceiling serve afterwards must equal the SAME filtered brute
        // force s22 pins — the equivalence-by-shared-oracle gate:
        // compaction is invisible to results or the hash moves.
        ivfPqLifecycle(s, dir, "s24")(oldThenNewByParity) { (_, idxDir) =>
          graft.index.IndexStore.compactIndex(s, idxDir)
        }
      },
      Some(sqlFilteredBruteForceTop3)),

    // -------- durable-index DELETES, served corpus shrinks (s25)
    GraftQuery(
      "s25_ivfpq_index_delete",
      (s, dir) => {
        import s.implicits._
        // production takedowns: the index keeps serving while a
        // tombstone batch removes docs. Build on the 80% bucket,
        // append the rest, DELETE every non-query doc with
        // vec_id % 10 == 7, then serve at the construction ceiling —
        // the oracle is the filtered brute force over the corpus
        // MINUS the deleted docs, so a tombstoned row that still
        // pairs (or an over-deleted survivor) is a hash mismatch.
        ivfPqLifecycle(s, dir, "s25") { emb =>
          Seq(emb.filter(vecPct < 80), emb.filter(vecPct >= 80))
        } { (emb, idxDir) =>
          graft.index.IndexStore.deleteFromIndex(
            emb.filter($"vec_id" >= NQUERIES && $"vec_id" % 10 === 7)
              .select($"vec_id"), "vec_id", idxDir, batchId = 1L)
        }
      },
      Some(sqlFilteredBruteForceTop3Excluding(
        s"c.vec_id >= $NQUERIES AND c.vec_id % 10 = 7"))),

    // -------- dedup-index compaction mid-lifecycle (d16)
    GraftQuery(
      "d16_semantic_index_compact",
      (s, dir) => {
        // s15's incremental flow with a compactIndex BETWEEN the two
        // increments — the dedup-family face of the maintenance step:
        // batch 2's probe reads the compacted generation, and the
        // union of outputs must still hash-match s15's own oracle
        // (shared-oracle equivalence on the second index family).
        val Seq(oldEmb, newEven, newOdd) =
          oldThenNewByParity(Tables.load(s, dir, "embeddings"))
        val idxDir = graft.core.StreamStore
          .scratchRoot("graft-d16-").toString
        semanticInc(oldEmb, idxDir, 0L, probe = false)
        val out1 = semanticInc(newEven, idxDir, 1L)
        graft.index.IndexStore.compactIndex(s, idxDir)
        out1.unionByName(semanticInc(newOdd, idxDir, 2L))
      },
      Some(sqlIncrementalSemantic)),

    // ---- compaction interleaved with STREAMING appends (st18)
    GraftQuery(
      "st18_ivfpq_compact_stream",
      (s, dir) => {
        // the maintenance step in the deployment it actually runs in:
        // st17's nightly append stream, with compactIndex firing
        // BETWEEN two microbatch triggers (the single-writer window —
        // foreachBatch serializes the appends, so between-batch is
        // exactly where a scheduler runs maintenance). Later appends
        // land next to the compacted generation; the ceiling serve
        // must still equal the filtered brute force over the union
        // corpus — compaction mid-stream loses nothing, duplicates
        // nothing, reorders nothing (the s22/st17 shared oracle).
        // The hook fires OUTSIDE the isEmpty guard (REVIEW 3): an
        // empty microbatch must not silently skip the compaction this
        // query exists to exercise.
        ivfPqStreamLifecycle(s, dir, "st18") { (s2, idxDir, bid) =>
          if (bid == 1L)
            graft.index.IndexStore.compactIndex(s2, idxDir)
        }
      },
      Some(sqlFilteredBruteForceTop3)),

    // ---- dedup feedback drives index deletes, end to end (s26)
    GraftQuery(
      "s26_dedup_feedback_delete",
      (s, dir) => {
        import s.implicits._
        // THE MOTIVATING COMPOSITION for deleteFromIndex's second use
        // case (production corpora remove documents on takedowns AND
        // dedup feedback): the corpus indexes once, the s07 SemDeDup
        // pass finds near-duplicate pairs, d06's connected-components
        // resolution keeps each cluster's min-id survivor, the LOSERS
        // tombstone out of the serving index, and the ceiling serve
        // afterwards equals the filtered brute force over the
        // SURVIVOR corpus — one oracle pins the dedup arithmetic, the
        // closure, the delete, and the serve as a single chain. Every
        // stage is the proven facade (buildIvfPqIndex,
        // semanticNearDups, connectedComponents, deleteFromIndex,
        // queryIvfPqIndex); composition is where id contracts break
        // silently, which is exactly what this gate watches.
        val emb = sourcedEmb(s, dir).pin()
        val idxDir = graft.core.StreamStore
          .scratchRoot("graft-s26-").toString
        // the index build and the dedup-feedback chain are INDEPENDENT
        // job chains (the build indexes the corpus; the SemDeDup pass +
        // component resolution compute the losers from the raw
        // embeddings) — run them concurrently (optimization guide
        // §2.6); the delete-then-serve tail still waits for both, so
        // results are unchanged (the oracle pins it).
        val losers = graft.core.Overlap(s, 1, "s26") { ov =>
          val fBuild = ov.fork(buildIvfPq(emb, idxDir))
          // threshold 0.38 CHOSEN WITH DATA (the thin-gate lesson): the
          // resulting losers change the top-3 serve at sf0.001, sf0.01
          // AND sf0.1 (8/6/6 result rows move), so the hash gate proves
          // the delete path live — at s07's 0.45 no loser ever ranked
          // and the chain would pass even with the anti-join dropped.
          // 0.38 sits in a measured cosine gap at every SF (nearest
          // pairs 0.37996/0.38002 at sf0.1 — 3.5e-5 wide, ~11 orders
          // above double ulp), so >= is engine-stable.
          val pairs = graft.operators.AnnOps.semanticNearDups(
            Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.38, cells = K, iters = 2)
          val l = graft.operators.DedupOps
            .connectedComponents(pairs, "a", "b")
            .filter(!$"is_survivor").select($"id".as("vec_id"))
          // order the delete after the manifest commit it validates
          // against
          fBuild.join()
          l
        }
        graft.index.IndexStore.deleteFromIndex(
          losers, "vec_id", idxDir, batchId = 1L)
        serveAtCeiling(emb, idxDir)
      },
      Some(s"""
        WITH RECURSIVE ${sqlKmeansCtesOver(
          "SELECT vec_id, embedding FROM embeddings")},
        cellpairs AS (
          SELECT x.cell, x.vec_id a, y.vec_id b
          FROM assign2 x JOIN assign2 y
            ON x.cell = y.cell AND x.vec_id < y.vec_id
        ),
        dotp AS (
          SELECT p.cell, p.a, p.b, CAST(SUM(ca.c * cb.c) AS BIGINT) dot
          FROM cellpairs p
            JOIN comp ca ON ca.vec_id = p.a
            JOIN comp cb ON cb.vec_id = p.b AND cb.i = ca.i
          GROUP BY 1, 2, 3
        ),
        spairs AS (
          SELECT d.a, d.b
          FROM dotp d
            JOIN nrm na ON na.vec_id = d.a
            JOIN nrm nb ON nb.vec_id = d.b
          WHERE (CAST(d.dot AS DOUBLE) / 1000000000000.0)
            / (na.nrm * nb.nrm) >= 0.38
        ),
        edges AS (
          SELECT a AS src, b AS dst FROM spairs
          UNION SELECT b, a FROM spairs
        ),
        reach(id, node) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          UNION
          SELECT r.id, e.dst FROM reach r JOIN edges e ON r.node = e.src
        ),
        losers AS (
          SELECT id FROM reach GROUP BY id HAVING MIN(node) <> id
        ),
        srct AS (SELECT doc_id, source FROM documents),
        dot2 AS (
          SELECT q.vec_id qid, c2.vec_id neighbor_id,
            CAST(SUM(q.c * c2.c) AS BIGINT) dot
          FROM comp q
            JOIN comp c2 ON q.i = c2.i AND q.vec_id <> c2.vec_id
            JOIN srct sq ON sq.doc_id = q.vec_id
            JOIN srct sc ON sc.doc_id = c2.vec_id
              AND sc.source = sq.source
          WHERE q.vec_id < $NQUERIES
            AND c2.vec_id NOT IN (SELECT id FROM losers)
          GROUP BY 1, 2
        ),
        cos2 AS (
          SELECT d.qid, d.neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0)
              / (nq.nrm * nc.nrm) AS cosine
          FROM dot2 d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nc ON nc.vec_id = d.neighbor_id
        )
        SELECT qid, neighbor_id, cosine, rank FROM (
          SELECT *, row_number() OVER
            (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC)
            AS rank
          FROM cos2) t
        WHERE rank <= 3""")),

    // ------ rolling-window RETENTION drops whole old batches (s27)
    GraftQuery(
      "s27_ivfpq_index_expire",
      (s, dir) => {
        // the reference ingester's delete-behind (I7) applied to the
        // serving index: a rolling-window corpus drops its OLDEST
        // batches wholesale — here the 50% build batch itself expires
        // (batch ids are dates; minKeepBatchId is the window edge),
        // leaving the index serving ONLY the two newer append batches
        // against centroids/codebooks that were trained on data now
        // gone. The ceiling serve must equal the filtered brute force
        // over the RETAINED corpus — exact regardless of artifact
        // quality (the construction-ceiling argument is
        // clustering-independent), so an under-expired straggler row
        // or an over-expired survivor is a hash mismatch.
        ivfPqLifecycle(s, dir, "s27")(retentionWindow) { (_, idxDir) =>
          graft.index.IndexStore.expireBatches(s, idxDir,
            minKeepBatchId = 1L)
        }
      },
      Some(sqlFilteredBruteForceTop3Excluding(
        s"${sqlMd5Bucket("c.vec_id")} % 100 < 50"))),

    // ------ UNIFIED one-pass maintenance == the sequential passes (s28)
    GraftQuery(
      "s28_ivfpq_index_maintain",
      (s, dir) => {
        // the deployment entrypoint: expire + compact + vacuum as ONE
        // lock cycle and ONE generation rewrite
        // (IndexStore.maintainIndex). The fixture is s27's exactly, and
        // the oracle IS s27's SQL — the shared-oracle discipline: the
        // composed pass must serve byte-identically to the sequential
        // expireBatches spelling, or this hash mismatches. The vacuum
        // face runs too, so the serve below also proves the grace-
        // waived tree (only the fresh generation on disk) is complete.
        ivfPqLifecycle(s, dir, "s28")(retentionWindow) { (_, idxDir) =>
          graft.index.IndexStore.maintainIndex(s, idxDir,
            graft.index.IndexStore.IndexMaintenancePolicy(
              minKeepBatchId = 1L, vacuum = true))
        }
      },
      Some(sqlFilteredBruteForceTop3Excluding(
        s"${sqlMd5Bucket("c.vec_id")} % 100 < 50"))),

    // ---- retention interleaved with STREAMING appends (st19)
    GraftQuery(
      "st19_ivfpq_expire_stream",
      (s, dir) => {
        // the rolling window in the deployment it actually runs in:
        // st17's nightly append stream with expireBatches firing
        // between two microbatch triggers (the same single-writer
        // window st18 uses for compaction — foreachBatch serializes,
        // so between-trigger is where a scheduler runs maintenance).
        // The BUILD batch — the window's oldest data — expires while
        // the stream is still appending; later microbatches land next
        // to the retention-cut generation, and the ceiling serve must
        // equal the filtered brute force over ONLY the streamed 20% —
        // an under-expired build row or an over-expired streamed row
        // is a hash mismatch. With st18 this pins both maintenance
        // steps (consolidation AND retention) as safe inside a live
        // append stream.
        ivfPqStreamLifecycle(s, dir, "st19") { (s2, idxDir, bid) =>
          if (bid == 1L)
            graft.index.IndexStore.expireBatches(s2, idxDir,
              minKeepBatchId = 1L)
        }
      },
      Some(sqlFilteredBruteForceTop3Excluding(
        s"${sqlMd5Bucket("c.vec_id")} % 100 < 80")))
  )

  /** Shared scaffolding of the st17/st18 streaming ANN lifecycle
    * (ONE spelling so the two queries cannot drift — REVIEW 3): build
    * on the 80% md5 bucket, stream the 20% through 3 real
    * microbatches (one [[graft.index.IvfPqIndex.appendIvfPqIndex]]
    * per non-empty trigger), run `afterBatch(spark, idxDir, bid)`
    * UNCONDITIONALLY after every trigger — outside the isEmpty guard,
    * so st18's mid-stream compaction fires even if a repartition
    * leaves a source file empty — then serve at the construction
    * ceiling. */
  private def ivfPqStreamLifecycle(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String)(
      afterBatch: (org.apache.spark.sql.SparkSession, String, Long)
        => Unit): org.apache.spark.sql.DataFrame = {
    val emb = sourcedEmb(s, dir).pin()
    val oldEmb = emb.filter(vecPct < 80)
    val newEmb = emb.filter(vecPct >= 80)
    val idxDir = graft.core.StreamStore
      .scratchRoot(s"graft-$tag-").toString
    val newDir = graft.core.StreamStore
      .scratchRoot(s"graft-$tag-new-").toString
    // the stream-source staging write (the 20% split into 3 files) and
    // the index build are INDEPENDENT job chains over the same pinned
    // emb — overlap them (guide §2.6); both are done before the
    // stream (the staging's consumer) starts.
    graft.core.Overlap(s, 1, s"$tag-stage") { ov =>
      ov.fork(newEmb.repartition(3).write.mode("overwrite").parquet(newDir))
      buildIvfPq(oldEmb, idxDir)
    }
    val stream = s.readStream.schema(newEmb.schema)
      .option("maxFilesPerTrigger", 1).parquet(newDir)
    graft.streaming.StreamingOps.drainForeachBatch(s, stream, tag) {
      (batch, bid) =>
        if (!batch.isEmpty) {
          // bid + 1: microbatch ids start at 0, the build owns 0.
          // No pre-pin: appendIvfPqIndex stages (repartition + pin)
          // the batch itself as its first step, and that staging is
          // the batch frame's only consumer besides the isEmpty
          // limit-1 probe — the extra pin was one whole
          // materialization job per trigger for zero reuse
          // (round-17 job-count cut).
          graft.index.IvfPqIndex.appendIvfPqIndex(
            batch, "vec_id", "embedding", "source", idxDir, bid + 1L)
        }
        afterBatch(s, idxDir, bid)
    }
    serveAtCeiling(emb, idxDir)
  }

  /** The s21-s28 durable IVF-PQ lifecycle: stage the sourced corpus once,
    * build the index on the first frame of `batches(emb)`, append the
    * rest as batches 1, 2, ..., run `maintain(emb, idxDir)`, then serve
    * at the construction ceiling. */
  private def ivfPqLifecycle(s: SparkSession, dir: String, tag: String)(
      batches: DataFrame => Seq[DataFrame])(
      maintain: (DataFrame, String) => Unit): DataFrame = {
    val emb = sourcedEmb(s, dir).pin()
    val idxDir = graft.core.StreamStore
      .scratchRoot(s"graft-$tag-").toString
    val build +: appends = batches(emb)
    buildIvfPq(build, idxDir)
    appends.zipWithIndex.foreach { case (batch, i) =>
      graft.index.IvfPqIndex.appendIvfPqIndex(batch, "vec_id",
        "embedding", "source", idxDir, batchId = i + 1L)
    }
    maintain(emb, idxDir)
    serveAtCeiling(emb, idxDir)
  }

  /** Every lifecycle query's index: K cells and 4 x 4 PQ codes, each
    * trained in 2 Lloyd rounds. */
  private def buildIvfPq(emb: DataFrame, idxDir: String): Unit =
    graft.index.IvfPqIndex.buildIvfPqIndex(
      emb, "vec_id", "embedding", "source", idxDir,
      cells = K, iters = 2, pqM = 4, pqKs = 4, pqIters = 2)

  /** Serves the query rows of the staged `emb` from `idxDir` at the
    * construction ceiling (nprobe = cells, full re-rank), then releases
    * the staging: the serve's output is pinned and independent of it. */
  private def serveAtCeiling(emb: DataFrame, idxDir: String): DataFrame = {
    val out = graft.index.IvfPqIndex.queryIvfPqIndex(
      emb.filter(col("vec_id") < NQUERIES), "vec_id", "embedding",
      "source", idxDir, k = 3, nprobe = K,
      rerankDepth = Int.MaxValue)
    graft.operators.DedupOps.releaseLocalCheckpoint(emb)
    out
  }

  /** The 80% md5 bucket (old) then the rest split by vec_id parity: the
    * seed-plus-two-increments batching of s15, d16, s22 and s24. */
  private def oldThenNewByParity(emb: DataFrame): Seq[DataFrame] = {
    val newEmb = emb.filter(vecPct >= 80)
    Seq(emb.filter(vecPct < 80), newEmb.filter(col("vec_id") % 2 === 0),
      newEmb.filter(col("vec_id") % 2 === 1))
  }

  /** s27/s28's rolling window: buckets [0, 50), [50, 80), [80, 100). */
  private def retentionWindow(emb: DataFrame): Seq[DataFrame] = Seq(
    emb.filter(vecPct < 50), emb.filter(vecPct >= 50 && vecPct < 80),
    emb.filter(vecPct >= 80))

  /** The filtered brute-force top-3 — the shared construction-ceiling
    * oracle (s12's spelling): all same-source pairs, exact scaled-long
    * cosine, top-3 per query. s18 (nprobe = cells + full rerank) and
    * s20 (probeBits = rowsPerBand) both collapse to this by
    * construction; s21/s22/st17/s24 pin the durable serving lifecycle
    * against it. */
  private def sqlFilteredBruteForceTop3: String =
    sqlFilteredBruteForceTop3Excluding("FALSE")

  /** [[sqlFilteredBruteForceTop3]] with the NEIGHBOR side restricted
    * to `NOT (excludePred)` — the s25 delete oracle: the brute force
    * over the corpus minus the tombstoned docs (queries are untouched;
    * the delete predicate never covers them). */
  private def sqlFilteredBruteForceTop3Excluding(
      excludePred: String): String =
    sqlFilteredBrute(s"q.vec_id < $NQUERIES AND NOT ($excludePred)")

  /** The filtered brute force over the query/corpus pairs `where`
    * admits (s12's spelling): all same-source pairs, exact scaled-long
    * cosine, top-3 per query. */
  private def sqlFilteredBrute(where: String): String = s"""
        WITH $sqlCompNrm,
        src AS (SELECT doc_id, source FROM documents),
        dot AS (
          SELECT q.vec_id qid, c.vec_id neighbor_id,
            CAST(SUM(q.c * c.c) AS BIGINT) dot
          FROM comp q
            JOIN comp c ON q.i = c.i AND q.vec_id <> c.vec_id
            JOIN src sq ON sq.doc_id = q.vec_id
            JOIN src sc ON sc.doc_id = c.vec_id AND sc.source = sq.source
          WHERE $where
          GROUP BY 1, 2
        ),
        cos AS (
          SELECT d.qid, d.neighbor_id,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0)
              / (nq.nrm * nc.nrm) AS cosine
          FROM dot d
            JOIN nrm nq ON nq.vec_id = d.qid
            JOIN nrm nc ON nc.vec_id = d.neighbor_id
        )${sqlTopRank(3)}"""

  /** DuckDB spelling of s19: the s15 frozen-training prefix (seed
    * subset trains 2 Lloyd rounds; frozen table = the one the final
    * assignment scored), with the post-seed rows DRIFTED (+0.25 per
    * component) before scaling, one assignment of the whole corpus
    * against the frozen table, then the audit's per-batch decimal-sum
    * distance/occupancy aggregation. */
  private def sqlIndexDriftAudit: String = s"""
        WITH raw AS (
          SELECT vec_id,
            ${sqlMd5Bucket("vec_id")}
              % 100 AS bucket
          FROM embeddings
        ),
        bat AS (
          SELECT vec_id,
            CASE WHEN bucket < 80 THEN 0
                 WHEN vec_id % 2 = 0 THEN 1 ELSE 2 END AS batch
          FROM raw
        ),
        comp AS (
          SELECT e.vec_id,
            unnest(range(len(e.embedding))) i,
            CAST(round((CAST(unnest(e.embedding) AS DOUBLE) +
              CASE WHEN r.bucket < 80 THEN 0.0 ELSE 0.25 END)
              * 1000000.0) AS BIGINT) c
          FROM embeddings e JOIN raw r ON r.vec_id = e.vec_id
        ),$sqlNrmBoth,
        oldid AS (SELECT vec_id FROM raw WHERE bucket < 80),$sqlFrozenLloydCtes,
        dcell AS (
          SELECT a.vec_id, a.cell, b.batch,
            CAST(1.0 - s.dot / (n.nrm * 1000000.0 * c1.cnrmr)
              AS DECIMAL(18,12)) dist
          FROM assign2 a
            JOIN score2 s ON s.vec_id = a.vec_id AND s.cell = a.cell
            JOIN nrm n ON n.vec_id = a.vec_id
            JOIN cnrm1 c1 ON c1.cell = a.cell
            JOIN bat b ON b.vec_id = a.vec_id
          WHERE n.nrm > 0
        ),
        occ AS (
          SELECT batch, cell, COUNT(*) cn FROM dcell GROUP BY 1, 2
        ),
        skew AS (
          SELECT batch, COUNT(*) n_cells,
            CAST(MAX(cn) AS BIGINT) max_cell_n
          FROM occ GROUP BY 1
        ),
        dists AS (
          SELECT batch, COUNT(*) n,
            CAST(SUM(dist) AS DOUBLE) / COUNT(*) AS mean_dist,
            CAST(MAX(dist) AS DOUBLE) AS max_dist
          FROM dcell GROUP BY 1
        )
        SELECT CAST(d.batch AS BIGINT) AS batch, d.n, s.n_cells,
          s.max_cell_n, d.mean_dist, d.max_dist,
          d.mean_dist -
            (SELECT mean_dist FROM dists ORDER BY batch LIMIT 1)
            AS drift_vs_seed
        FROM dists d JOIN skew s ON s.batch = d.batch"""

  /** DuckDB spelling of s15: 2 unrolled Lloyd iterations over the OLD
    * (md5 bucket < 80) subset only — seeds are the K smallest old ids,
    * cell = rank — then ONE assignment of the WHOLE corpus against the
    * frozen iteration-2 centroids, within-cell exact-cosine pairs,
    * restricted to pairs touching >= 1 new doc. The frozen-table
    * contract makes this the exact batch spelling of the incremental
    * operator's union.
    */
  private def sqlIncrementalSemantic: String = s"""
        WITH $sqlComp,$sqlNrmBoth,
        oldid AS (
          SELECT vec_id FROM embeddings
          WHERE ${sqlMd5Bucket("vec_id")}
            % 100 < 80
        ),$sqlFrozenLloydCtes,
        cellpairs AS (
          SELECT x.vec_id a, y.vec_id b
          FROM assign2 x JOIN assign2 y
            ON x.cell = y.cell AND x.vec_id < y.vec_id
        ),
        dotp AS (
          SELECT p.a, p.b, CAST(SUM(ca.c * cb.c) AS BIGINT) dot
          FROM cellpairs p
            JOIN comp ca ON ca.vec_id = p.a
            JOIN comp cb ON cb.vec_id = p.b AND cb.i = ca.i
          GROUP BY 1, 2
        ),
        newid AS (
          SELECT vec_id FROM embeddings
          WHERE ${sqlMd5Bucket("vec_id")}
            % 100 >= 80
        )
        SELECT d.a, d.b,
          (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (na.nrm * nb.nrm)
            AS cosine
        FROM dotp d
          JOIN nrm na ON na.vec_id = d.a
          JOIN nrm nb ON nb.vec_id = d.b
        WHERE (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (na.nrm * nb.nrm)
            >= 0.35
          AND (d.a IN (SELECT vec_id FROM newid)
            OR d.b IN (SELECT vec_id FROM newid))"""

  /** DuckDB spelling of s07/s11 (2 unrolled Lloyd iterations at k=3,
    * within-cell exact-cosine pairs): s11's sharded kernel is
    * bit-identical to s07's single-broadcast kernel, so both queries
    * pin against the SAME oracle text.
    */
  private def sqlSemanticDedup: String = s"""
        WITH $sqlKmeansCtes,
        cellpairs AS (
          SELECT x.cell, x.vec_id a, y.vec_id b
          FROM assign2 x JOIN assign2 y
            ON x.cell = y.cell AND x.vec_id < y.vec_id
        ),
        dotp AS (
          SELECT p.cell, p.a, p.b, CAST(SUM(ca.c * cb.c) AS BIGINT) dot
          FROM cellpairs p
            JOIN comp ca ON ca.vec_id = p.a
            JOIN comp cb ON cb.vec_id = p.b AND cb.i = ca.i
          GROUP BY 1, 2, 3
        )
        SELECT d.cell, d.a, d.b,
          (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (na.nrm * nb.nrm)
            AS cosine
        FROM dotp d
          JOIN nrm na ON na.vec_id = d.a
          JOIN nrm nb ON nb.vec_id = d.b
        WHERE (CAST(d.dot AS DOUBLE) / 1000000000000.0) / (na.nrm * nb.nrm)
          >= 0.45"""

  /** DuckDB spelling of s09: the s01 candidate CTEs, candidate-pair
    * sims, then `steps` unrolled greedy selections. */
  private def sqlMmr(steps: Int): String = {
    val stages = (2 to steps).map { i =>
      s""",
        sc$i AS (
          SELECT r.qid, r.neighbor_id, r.cosine - mx.max_sim AS score
          FROM cand r
          JOIN (SELECT p.qid, p.a, MAX(p.sim) AS max_sim
                FROM psim p
                JOIN selu${i - 1} s ON p.qid = s.qid AND p.b = s.neighbor_id
                GROUP BY 1, 2) mx
            ON mx.qid = r.qid AND mx.a = r.neighbor_id
          WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} s
                            WHERE s.qid = r.qid
                              AND s.neighbor_id = r.neighbor_id)
        ),
        sel$i AS (
          SELECT qid, neighbor_id, score AS mmr_score FROM (
            SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY score DESC, neighbor_id ASC) rn
            FROM sc$i) t
          WHERE rn = 1
        ),
        selu$i AS (
          SELECT qid, neighbor_id FROM selu${i - 1}
          UNION ALL SELECT qid, neighbor_id FROM sel$i
        )"""
    }.mkString
    val out = (1 to steps).map { i =>
      s"""SELECT qid, CAST($i AS INT) AS step, neighbor_id, mmr_score
          FROM sel$i"""
    }.mkString("\n        UNION ALL ")
    s"""
        WITH $sqlCompNrm,$sqlBruteCos,
        cand AS (
          SELECT qid, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) rank
            FROM cos) t
          WHERE rank <= $TOPK
        ),
        cpair AS (
          SELECT ca.qid, ca.neighbor_id a, cb.neighbor_id b
          FROM cand ca JOIN cand cb
            ON ca.qid = cb.qid AND ca.neighbor_id <> cb.neighbor_id
        ),
        pdot AS (
          SELECT p.qid, p.a, p.b, CAST(SUM(x.c * y.c) AS BIGINT) dot
          FROM cpair p
            JOIN comp x ON x.vec_id = p.a
            JOIN comp y ON y.vec_id = p.b AND y.i = x.i
          GROUP BY 1, 2, 3
        ),
        psim AS (
          SELECT d.qid, d.a, d.b,
            (CAST(d.dot AS DOUBLE) / 1000000000000.0)
              / (na.nrm * nb.nrm) AS sim
          FROM pdot d
            JOIN nrm na ON na.vec_id = d.a
            JOIN nrm nb ON nb.vec_id = d.b
        ),
        sel1 AS (
          SELECT qid, neighbor_id, cosine AS mmr_score FROM (
            SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) rn
            FROM cand) t
          WHERE rn = 1
        ),
        selu1 AS (SELECT qid, neighbor_id FROM sel1)$stages
        $out"""
  }
}
