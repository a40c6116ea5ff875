package graft.operators

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Reusable training-data pipeline operators over ARBITRARY DataFrames.
  *
  * The oracle-checked `graft.queries` suites pin these algorithms' semantics
  * against DuckDB on the test corpus; this facade exposes the same
  * building blocks (compiled [[TextKernels]] passes, scaled-long exact
  * cosine, band-bucketed candidate generation) as a library API: pass
  * your own DataFrame and column names.
  *
  * Scale design is inherited from the query suites:
  *  - corpora are staged hash-distributed by id and pinned
  *    (localCheckpoint) so CPU-heavy kernel passes parallelize and are
  *    computed once, not once per referencing subtree;
  *  - candidate generation is always a bucket equi-join (LSH band,
  *    shingle posting, SimHash byte band, block grid) — never an
  *    all-pairs cross join; verification cost is O(candidates);
  *  - similarity arithmetic is exact (integer/decimal) until one final
  *    double division, so results are reproducible across engines.
  */
/** Partition-count resolution for every operator's `partitions` knob:
  * the default `0` means "the session's `spark.sql.shuffle.partitions`"
  * — the number the deployment already sized for its executor fleet —
  * so a facade call scales with the cluster instead of silently
  * under-partitioning behind a fixed literal (32 tasks over 100 TB is
  * ~3 TB per task). A positive value is honored verbatim for callers
  * that measured something better. Results everywhere are
  * partitioning-INVARIANT by construction (hash staging feeds
  * key-grouped joins/aggs and order-free kernels), so the knob affects
  * parallelism, never answers — the oracle suite pins that.
  *
  * API NOTE (deliberate hardening, round 9): negative values THROW.
  * Earlier rounds silently fell back to the session default, so an
  * external caller using a negative sentinel must switch to `0` — the
  * documented "session default" spelling. A loud require beats a
  * sentinel silently changing meaning.
  */
private[graft] object Parts {
  /** Target bytes per staged partition when the caller lets the engine
    * choose (`partitions = 0`): the shuffle-partition sizing the
    * optimization guide recommends (§2.2: partitions in the 100 MB–1 GB
    * range beat KB-sized ones).
    */
  private val TargetBytes = 64L << 20

  /** Floor on the adaptive choice: a staging below it would serialize
    * the per-task compute and the partitioned index writes that read it
    * (measured: 1-partition stagings made the ivfpq appends SLOWER — 16
    * cell files written sequentially by one task — while 8 kept the
    * win). Never raises above the cap. */
  private val MinParts = 8

  /** Estimates >= this are the optimizer saying "unknown" (its unknown
    * sentinel is `spark.sql.defaultSizeInBytes` = Long.MaxValue) —
    * fall back to the session default. */
  private val UnknownBytes = BigInt(1L) << 50 // 1 PiB

  def of(df: DataFrame, partitions: Int): Int = {
    require(partitions >= 0,
      s"partitions=$partitions: 0 selects the session default, " +
        "positive values are honored verbatim; negatives are a caller bug")
    if (partitions > 0) partitions
    else {
      // SCALE-ADAPTIVE default (round-17 optimization): derive the
      // staging layout from the inputs' REAL sizes instead of pinning
      // the session shuffle-partition count on inputs of ANY size.
      // Every staged frame is pinned and then re-read by 5–40
      // downstream jobs per operator, so an over-partitioned staging
      // multiplies per-job fixed cost across the whole operator
      // (measured on the lifecycle family: 32 one-KB tasks cost
      // +90–130 ms per job vs a size-appropriate layout).
      //
      // The size is the SUM OF LEAF-RELATION estimates (file scans =
      // real file bytes; pinned LogicalRDDs carry their origin stats),
      // NOT the optimizer's post-join output estimate: without column
      // stats a two-table equi-join estimates rowsA x rowsB / ndv and
      // a KB-sized corpus "becomes" 474 GB (measured), which would
      // disable the adaptation exactly where it pays. A staging is a
      // narrow projection of its inputs, so leaf bytes x a small
      // expansion factor bounds it for every staging in this engine;
      // a genuinely exploding join can only UNDER-partition down to
      // the floor, never above the cap, and only when its leaves are
      // tiny (< cap x target) — at which point the explosion is
      // KB-scale too.
      //
      // The session default stays the CAP: inputs above cap x target
      // keep exactly today's layout, so cluster-scale runs are
      // untouched and the adaptation only removes provably-empty
      // parallelism (the "make partitioning scale-adaptive" rule —
      // nothing here is tuned to the local core count).
      val sess = df.sparkSession
      val cap = sess.sessionState.conf.numShufflePartitions
      val floor = math.min(cap, MinParts)
      val est =
        try {
          val leaves = df.queryExecution.analyzed.collectLeaves()
          leaves.map(_.stats.sizeInBytes).foldLeft(BigInt(0))(_ + _)
        } catch { case NonFatal(_) => UnknownBytes }
      if (est <= 0 || est >= UnknownBytes) cap
      // x3: scaled-long staging of a float corpus roughly triples the
      // bytes; erring high only adds partitions below the cap
      else ((est * 3 + TargetBytes - 1) / TargetBytes)
        .min(BigInt(cap)).max(BigInt(floor)).toInt
    }
  }
}
