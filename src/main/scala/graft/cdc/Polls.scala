package graft.cdc

/** The LSN rules of the poll-batch lanes (c33, s15, c36/s14, c39). */
object Polls {
  /** The snapshot cut at 60% of the LSN span — deterministic from the
    * data, and it leaves a meaningful tail for the poll loop at every sf.
    */
  def snapshotCut(minLsn: Long, maxLsn: Long): Long = minLsn + (maxLsn - minLsn) * 3 / 5

  /** `(lo, hi]` split into at most `n` ascending, contiguous `(lo, hi]`
    * poll ranges of ⌈(hi − lo) / n⌉ LSNs (the last one may be shorter).
    */
  def ranges(lo: Long, hi: Long, n: Int): Seq[(Long, Long)] = {
    val step = math.max(1L, (hi - lo + n - 1) / n)
    (lo until hi by step).map(from => (from, math.min(from + step, hi)))
  }
}
