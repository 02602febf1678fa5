package graft.model

import java.time.ZoneId
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.types._

/** One parsed game event.
  *
  * Mirrors the reference's event record (reference `UserScore.java:31-66`):
  * `user: String`, `team: String`, `score: Int`, `timestamp: Long` (epoch
  * millis). The reference declares every field nullable via Avro; our parser
  * only ever emits fully-populated rows (malformed input is dropped before
  * construction), so the case class uses plain types and the SQL schema keeps
  * fields nullable for parity.
  */
final case class GameEvent(user: String, team: String, score: Int, timestamp: Long) {

  /** Key-field selection quirk preserved from the reference
    * (`UserScore.java:56-62`): "team" selects the team, ANY other string
    * selects the user (an `else`, not a lookup).
    */
  def getKey(keyname: String): String = if (keyname == "team") team else user
}

object GameEvent {
  val schema: StructType = StructType(
    Seq(
      StructField("user", StringType, nullable = true),
      StructField("team", StringType, nullable = true),
      StructField("score", IntegerType, nullable = true),
      StructField("timestamp", LongType, nullable = true)
    )
  )

  /** Output timestamp formatting matches the reference
    * (`HourlyTeamScore.java:27-32`): PST wall-clock, minute-level pattern for
    * filter bounds and a millisecond pattern for window labels. Internal
    * representation stays UTC epoch millis; PST applies only at format time.
    */
  val OutputZone: ZoneId = ZoneId.of("America/Los_Angeles")

  val TimestampFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(OutputZone)

  def parseMinute(s: String): Long =
    java.time.LocalDateTime
      .parse(s, DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm"))
      .atZone(OutputZone)
      .toInstant
      .toEpochMilli

  def formatMillis(ms: Long): String =
    TimestampFormat.format(java.time.Instant.ofEpochMilli(ms))
}
