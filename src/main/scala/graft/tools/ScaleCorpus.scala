package graft.tools

/** The 10×-style PAIR-INTERPOLATED embedding corpus, shared by the
  * `Round19Bench`/`Round20Bench` tools and `GraphRankSpec`'s
  * audit-fidelity-at-10× test so the benches' corpus and the spec's
  * floors can never silently desynchronize. Replicated (or merely
  * jittered) copies sit on top of their parent, land in its IVF cell,
  * and flatten every probe-vs-recall curve to 1.0 (measured) —
  * interpolation between deterministic vector PAIRS fills the space
  * BETWEEN clusters, so cell walls and neighbor structure genuinely
  * move with N. */
object ScaleCorpus {

  /** One interpolated copy of `base`. `copy` 0 is the identity copy;
    * copy c pairs row i with row (i + 37·c) mod n at t = c/12 plus a
    * ±0.01 `SplittableRandom(id·10 + c)` jitter (deterministic across
    * JVMs — the algorithm is specified). ids shift by c·1e6 +
    * `idOffset`. */
  def interpolateCopy(base: Array[(Long, Array[Float])], copy: Int,
                      idOffset: Long = 0L): Seq[(Long, Array[Float])] = {
    val nb = base.length
    base.zipWithIndex.map { case ((id, v), i) =>
      if (copy == 0) (id + idOffset, v)
      else {
        val partner = base(((i + 37 * copy) % nb + nb) % nb)._2
        val t = copy / 12.0
        val rnd = new java.util.SplittableRandom(id * 10 + copy)
        val vv = new Array[Float](v.length)
        var d = 0
        while (d < v.length) {
          vv(d) = ((1.0 - t) * v(d) + t * partner(d) +
            (rnd.nextDouble() * 0.02 - 0.01)).toFloat
          d += 1
        }
        (id + copy * 1000000L + idOffset, vv)
      }
    }.toSeq
  }

  /** `copies` interpolated copies of `base` — the n× corpus. */
  def interpolate(base: Array[(Long, Array[Float])],
                  copies: Int): Seq[(Long, Array[Float])] =
    (0 until copies).flatMap(c => interpolateCopy(base, c))
}
