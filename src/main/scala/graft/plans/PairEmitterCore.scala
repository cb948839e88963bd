package graft.plans

/** Shared intra-group pair-emission core — one algorithm object behind
  * both executions of "emit the pairs of documents sharing a bucket"
  * (the SpaceSavingCore pattern: one core, two surfaces):
  *
  *  - BATCH: [[PairsWithinGroupsExec]]'s interpreted path buffers each
  *    sorted group and emits via [[allPairIndices]] — the n·(n−1)/2
  *    ordered pairs per group. The whole-stage-codegen path cannot call
  *    into a Scala closure without defeating the generated loop, so its
  *    Java source mirrors this contract instead of invoking it; PairsSpec
  *    pins the two paths equal (a `spark.sql.codegen.wholeStage` A/B).
  *  - STREAMING: S6 (Streams.minhashCandidates) holds a time-evicted
  *    signature buffer per band bucket in keyed state and folds each
  *    arrival through [[againstBuffer]] — the incremental emission whose
  *    union over arrivals equals the batch emission over the union of
  *    elements that co-existed within the horizon.
  *
  * The shared contract: no self-pairs (by id), each unordered pair
  * emitted once per co-occurrence, oriented min-id first.
  */
object PairEmitterCore {

  /** Matching-coordinate MinHash jaccard estimate of two equal-length
    * signatures — a primitive-long loop, no boxing (the S6 hot path). */
  def estimate(a: Array[Long], b: Array[Long]): Double = {
    var m = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  /** Incremental form: one NEW element against the already-seen buffer.
    * Emits (minId, maxId, score) for every buffered element whose score
    * against the new payload reaches `tau`; same-id entries are skipped
    * (a replayed document never pairs with itself). */
  def againstBuffer[T](
      buffer: Iterable[(Long, T)],
      id: Long,
      payload: T,
      score: (T, T) => Double,
      tau: Double): Iterator[(Long, Long, Double)] =
    buffer.iterator.flatMap { case (oid, op) =>
      if (oid == id) Iterator.empty
      else {
        val s = score(op, payload)
        if (s >= tau) Iterator.single((math.min(id, oid), math.max(id, oid), s))
        else Iterator.empty
      }
    }

  /** Batch form: the (i, j) index pairs of a fully-buffered group,
    * i < j — each member against everything after it. Equivalent to
    * folding the buffer through [[againstBuffer]] with an
    * always-passing score, expressed as indices so callers pairing
    * UnsafeRows never box their rows into tuples. */
  def allPairIndices(n: Int): Iterator[(Int, Int)] =
    for {
      i <- Iterator.range(0, n - 1)
      j <- Iterator.range(i + 1, n)
    } yield (i, j)
}
