package perfbench

import java.io.BufferedWriter
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators and the plain folds that graft's outputs are
  * checked against. Nothing here calls graft: each expected answer is a
  * fold over the records as they were generated, not over what graft
  * parsed. The same seed always gives the same inputs.
  */
object Gen {

  private val Colors = Seq(
    "Amber", "Azure", "Beige", "Coral", "Crimson", "Cyan", "Gold", "Indigo",
    "Ivory", "Jade", "Lime", "Magenta", "Navy", "Olive", "Plum")
  private val Animals = Seq("Badger", "Bison", "Cobra", "Dingo", "Eagle", "Gecko", "Heron", "Koala")
  val Teams: Array[String] = (for (c <- Colors; a <- Animals) yield c + a).toArray // 120

  val HourMs: Long = 3600L * 1000
  val MinuteMs: Long = 60L * 1000
  /** 2026-06-01T00:00Z: the generated hours stay clear of a DST switch in
    * the America/Los_Angeles labels graft writes.
    */
  val T0: Long = 1780272000000L

  def windowStart(ts: Long): Long = ts - Math.floorMod(ts, HourMs)

  private def add(m: mutable.HashMap[String, Long], k: String, v: Long): Unit =
    m.update(k, m.getOrElse(k, 0L) + v)

  private def add(m: mutable.HashMap[(Long, String), Long], k: (Long, String), v: Long): Unit =
    m.update(k, m.getOrElse(k, 0L) + v)

  // ---------------------------------------------------------------- gaming

  /** What a correct UserScore / HourlyTeamScore pass must produce. */
  final case class BatchExpect(
      lines: Long,
      malformed: Long,
      users: collection.Map[String, Long],
      teamWindows: collection.Map[(Long, String), Long])

  private val Corrupt = "THIS LINE REPRESENTS CORRUPT DATA AND WILL CAUSE A PARSE ERROR"

  /** Writes `events` CSV lines (`user,team,score,millis[,readable]`) that
    * span `hours` hours of event time. Of every 1000 lines, 2 are
    * malformed (corrupt text, too few fields, non-numeric score or time,
    * empty) and 50 are 5-10 minutes late; some valid lines carry padded
    * fields or omit the readable date. One user in ten is a robot from a
    * pool of 20.
    */
  def gamingCsv(seed: Long, path: Path, events: Int, hours: Int): BatchExpect = {
    val r = new SplittableRandom(seed)
    val humans = Array.tabulate(40000)(i => s"user${i}_${Teams(i % Teams.length)}" -> Teams(i % Teams.length))
    val robots = Array.tabulate(20)(i => s"Robot-$i" -> Teams((i * 7) % Teams.length))
    val users = mutable.HashMap.empty[String, Long]
    val windows = mutable.HashMap.empty[(Long, String), Long]
    var malformed = 0L
    val spanMs = hours * HourMs
    val w: BufferedWriter = Files.newBufferedWriter(path)
    try {
      var i = 0
      while (i < events) {
        val clock = T0 + spanMs * i / events
        val kind = r.nextInt(1000)
        if (kind < 2) {
          malformed += 1
          w.write(r.nextInt(5) match {
            case 0 => Corrupt
            case 1 => s"user${r.nextInt(100)}_AmberBadger,AmberBadger,${r.nextInt(20)}"
            case 2 => s"user1_AmberBadger,AmberBadger,x${r.nextInt(20)},$clock"
            case 3 => s"user1_AmberBadger,AmberBadger,${r.nextInt(20)},${clock / 1000}.5"
            case _ => ""
          })
        } else {
          val (user, team) =
            if (r.nextInt(10) == 0) robots(r.nextInt(robots.length)) else humans(r.nextInt(humans.length))
          val score = r.nextInt(20)
          val ts =
            if (kind < 52) clock - 5 * MinuteMs - r.nextInt(5 * 60 + 1) * 1000L
            else clock - r.nextInt(1000)
          add(users, user, score)
          add(windows, (windowStart(ts), team), score)
          if (kind % 97 == 0) w.write(s" $user , $team , $score , $ts ")
          else if (kind % 89 == 0) w.write(s"$user,$team,$score,$ts")
          else w.write(s"$user,$team,$score,$ts,${readable(ts)}")
        }
        w.write('\n')
        i += 1
      }
    } finally w.close()
    BatchExpect(events.toLong, malformed, users, windows)
  }

  /** The generator's readable-date field (`yyyy-MM-dd HH:mm:ss.SSS`, UTC),
    * which graft's parser ignores.
    */
  private def readable(ts: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(ts, 1000L), 0, java.time.ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(23)
    def pad(v: Int, w: Int): Unit = {
      val d = Integer.toString(v)
      var i = d.length
      while (i < w) { sb.append('0'); i += 1 }
      sb.append(d)
    }
    pad(t.getYear, 4); sb.append('-'); pad(t.getMonthValue, 2); sb.append('-'); pad(t.getDayOfMonth, 2)
    sb.append(' '); pad(t.getHour, 2); sb.append(':'); pad(t.getMinute, 2); sb.append(':'); pad(t.getSecond, 2)
    sb.append('.'); pad(Math.floorMod(ts, 1000L).toInt, 3)
    sb.toString
  }

  // ----------------------------------------------------------- leaderboard

  /** Batches for the LeaderBoard stream and the totals its two branches
    * must end with. `sizes(b)` is the number of rows of batch `b`.
    *
    * Batch `b` covers event times `[T0 + b*step, T0 + (b+1)*step)`. Of every
    * 100 rows, 90 are on time, 7 are 5-10 minutes late and 3 are "too
    * late": more than 200 minutes older than every row of batch `b - 2`.
    * The team branch's watermark (120 min) has passed those rows' whole
    * window before batch `b` starts, however Spark cuts the batches, so
    * the expected team totals leave them out without depending on batch
    * timing. The unwatermarked user branch counts them.
    *
    * Users: 40 robots take 5% of rows, 3,000 regulars 5%, and the other
    * 90% come from a tail of 4,000,000 ids, so the running-totals state
    * grows by about 0.9 keys per row.
    */
  final case class StreamInput(
      batches: Array[Array[String]],
      users: collection.Map[String, Long],
      teamWindows: collection.Map[(Long, String), Long])

  def leaderboard(seed: Long, sizes: Seq[Int], stepMinutes: Int = 6): StreamInput = {
    val r = new SplittableRandom(seed)
    val robots = Array.tabulate(40)(i => s"Robot-$i" -> Teams((i * 7) % Teams.length))
    val regulars = Array.tabulate(3000)(i => s"user${i}_${Teams(i % Teams.length)}" -> Teams(i % Teams.length))
    val users = mutable.HashMap.empty[String, Long]
    val windows = mutable.HashMap.empty[(Long, String), Long]
    val maxTs = new Array[Long](sizes.length)
    val step = stepMinutes * MinuteMs
    val batches = Array.tabulate(sizes.length) { b =>
      val lo = T0 + b * step
      var hi = if (b > 0) maxTs(b - 1) else Long.MinValue
      val out = Array.tabulate(sizes(b)) { _ =>
        val u = r.nextInt(100)
        val (user, team) =
          if (u < 5) robots(r.nextInt(robots.length))
          else if (u < 10) regulars(r.nextInt(regulars.length))
          else { val id = r.nextInt(4000000); s"tail$id" -> Teams(id % Teams.length) }
        val score = r.nextInt(20)
        val kind = r.nextInt(100)
        val isTooLate = kind < 3 && b >= 2
        val ts =
          if (isTooLate) maxTs(b - 2) - 200 * MinuteMs - r.nextInt(100 * 60) * 1000L
          else if (kind < 10) lo + r.nextInt(stepMinutes * 60) * 1000L - 5 * MinuteMs - r.nextInt(5 * 60 + 1) * 1000L
          else lo + r.nextInt(stepMinutes * 60 * 1000)
        add(users, user, score)
        if (!isTooLate) add(windows, (windowStart(ts), team), score)
        hi = math.max(hi, ts)
        s"$user,$team,$score,$ts,${readable(ts)}"
      }
      maxTs(b) = hi
      out
    }
    StreamInput(batches, users, windows)
  }

  // -------------------------------------------------------------- curation

  /** The word list of graft's documents fixtures: single-space joined, and
    * no word is a proper prefix or suffix of the overlap-bigram words, the
    * data contract several oracles rely on.
    */
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val Langs = Array("en", "fr", "zh", "de", "es")
  private val LangCut = Array(41, 56, 71, 85, 100)

  /** `documents` rows `(doc_id, text, lang, source, n_chars)`: 10-100 words
    * each, 41% "en" and about 15% each of four other languages, 20 sources,
    * and one exact-duplicate pair (both texts ending in "dup") per 600 docs.
    */
  def documents(seed: Long, n: Int): Array[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed)
    val texts = Array.fill(n) {
      val words = 10 + r.nextInt(91)
      Array.fill(words)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    for (_ <- 0 until n / 600) {
      val a = r.nextInt(n); val b = r.nextInt(n)
      if (a != b) { texts(a) = texts(a) + " dup"; texts(b) = texts(a) }
    }
    Array.tabulate(n) { i =>
      val p = r.nextInt(100)
      val lang = Langs(LangCut.indexWhere(p < _))
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** `embeddings` rows `(vec_id, embedding, label)`: 64-dim unit vectors
    * with Gaussian coordinates and a uniform label in 0-9.
    */
  def embeddings(seed: Long, n: Int): Array[(Long, Array[Float], Int)] = {
    val r = new java.util.Random(seed)
    Array.tabulate(n) { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }
}
