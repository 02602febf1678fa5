package graft.streaming

/** The per-key state of [[StreamingEwma]] and [[StreamingHolt]]: a window
  * of hourly event counts trailing the key's max hour, where `counts(i)` is
  * the count at `maxHour − i` and the window is `counts.length` hours wide.
  */
private[streaming] object TrailingHourCounts {

  /** Adds one count per element of `hours` to `counts` in place and returns
    * the new max hour (`Long.MinValue` before the first event). A later hour
    * slides the window forward; an hour inside it is a late event and still
    * counts; an hour older than the window is dropped, so the window width
    * is also the allowed lateness.
    */
  def add(maxHour: Long, counts: Array[Long], hours: Iterator[Long]): Long = {
    val w = counts.length
    var max = maxHour
    hours.foreach { h =>
      if (max == Long.MinValue) {
        max = h
        counts(0) = 1L
      } else if (h > max) {
        val shift = math.min(h - max, w.toLong).toInt
        var i = w - 1
        while (i >= 0) { // slide the window forward: old index i → i + shift
          counts(i) = if (i >= shift) counts(i - shift) else 0L
          i -= 1
        }
        max = h
        counts(0) += 1L
      } else if (max - h < w) {
        counts((max - h).toInt) += 1L // in-window late event
      } // else: beyond the truncation horizon — dropped
    }
    max
  }
}
