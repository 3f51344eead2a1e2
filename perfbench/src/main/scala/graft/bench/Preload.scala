package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated rows the sink holds before the live stream starts: typed
  * `wiki_events` rows whose `raw_json` is a valid recentchange `edit`
  * frame. Every row is a pure function of its index, so the checks can
  * regenerate the whole preload and compare it with what is committed.
  *
  * Event times run at 200 rows/s and end 120 s before the live feed's
  * first event (`gen.py` EVENT_EPOCH_S), so no preload key can meet a live
  * key, late events included. Users and titles are skewed (cubic and
  * quadratic transforms of a multiplicative hash) like the live feed's
  * Zipf draws. */
object Preload {
  val EventEpochS = 1772323200L
  val IdBase = 900000000L
  private val Words = Seq("Spark", "River", "Station", "Album", "Überlingen",
    "Kraków", "History", "Battle", "Province", "Species", "Film", "Église",
    "School", "Mountain", "Election", "Łódź", "Club", "Bridge", "Symphony",
    "Airport", "São Paulo", "Cathedral", "Comet", "Opera")
  val Columns = Seq("raw_json", "event_timestamp", "title", "title_url", "bot",
    "username", "length_bytes_old", "length_bytes_new", "length_diff_bytes")
  val Key = Seq("event_timestamp", "username", "title")

  /** Event second, user index and title index of preload row `id`: the
    * row's sink key, since user and title names are injective in them. */
  private def keyOf(id: Column, total: Long): (Column, Column, Column) = {
    val u = pmod(id * 2654435761L, lit(4294967296L)) / 4294967296.0
    val v = pmod(id * 40503L + 12345L, lit(65536L)) / 65536.0
    (lit(EventEpochS - 120L) - ((lit(total - 1L) - id) / 200).cast("long"),
      floor(pow(u, 3) * 4000).cast("long"),
      floor(pow(v, 2) * 12000).cast("long"))
  }

  /** The typed row for preload index `id` of a preload of `total` rows. */
  def rowOf(id: Column, total: Long): Seq[Column] = {
    val (tsS, uidx, tidx) = keyOf(id, total)
    val bot = pmod(uidx, lit(7L)) === 0
    val user = concat(when(bot, lit("Bot")).otherwise(lit("Editor")),
      uidx.cast("string"))
    val title = concat(
      element_at(array(Words.map(lit): _*), (pmod(tidx, lit(24L)) + 1).cast("int")),
      lit(" "), tidx.cast("string"))
    val url = concat(lit("https://en.wikipedia.org/wiki/"),
      regexp_replace(title, " ", "_"))
    val old = pmod(id * 7919L, lit(60000L))
    val nw = greatest(lit(0L), old + pmod(id * 104729L, lit(6000L)) - 2000L)
    val dt = date_format(timestamp_seconds(tsS), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val raw = concat(
      lit("{\"$schema\":\"/mediawiki/recentchange/1.0.0\",\"meta\":{\"uri\":\""),
      url, lit("\",\"id\":\""), hex(id * 2654435761L + 97L), lit("\",\"dt\":\""), dt,
      lit("\",\"domain\":\"en.wikipedia.org\",\"stream\":\"mediawiki.recentchange\"},\"id\":"),
      (id + IdBase).cast("string"),
      lit(",\"type\":\"edit\",\"namespace\":0,\"title\":\""), title,
      lit("\",\"title_url\":\""), url,
      lit("\",\"comment\":\"/* History */ copyedit\",\"timestamp\":"),
      tsS.cast("string"), lit(",\"user\":\""), user, lit("\",\"bot\":"),
      bot.cast("string"), lit(",\"length\":{\"old\":"), old.cast("string"),
      lit(",\"new\":"), nw.cast("string"),
      lit("},\"server_name\":\"en.wikipedia.org\",\"wiki\":\"enwiki\"}"))
    Seq(raw.as("raw_json"), timestamp_seconds(tsS).as("event_timestamp"),
      title.as("title"), url.as("title_url"), bot.as("bot"),
      user.as("username"), old.as("length_bytes_old"),
      nw.as("length_bytes_new"), (nw - old).as("length_diff_bytes"))
  }

  /** Preload rows `[from, until)` of `total`, keeping the lowest index of
    * each sink key (skewed draws can repeat a key within one second; chunk
    * bounds are whole seconds, so chunks never share a key). */
  def chunk(spark: SparkSession, from: Long, until: Long, total: Long,
      parts: Int): DataFrame = {
    val (ts, u, t) = keyOf(col("id"), total)
    spark.range(from, until, 1L, parts)
      .groupBy(ts.as("ts"), u.as("u"), t.as("t")).agg(min("id").as("id"))
      .select(rowOf(col("id"), total): _*)
  }

  /** Committed preload rows that are not byte-identical to a generated
    * preload row (0 when every one is a generated frame). Rows are compared
    * by a 64-bit hash of all their columns. */
  def mismatches(sink: DataFrame, total: Long, parts: Int): Long = {
    val h = xxhash64(Columns.map(col): _*).as("h")
    val committed = sink.filter(
      col("event_timestamp") < timestamp_seconds(lit(EventEpochS - 60L))).select(h)
    val generated = sink.sparkSession.range(0L, total, 1L, parts)
      .select(rowOf(col("id"), total): _*).select(h)
    committed.join(generated, Seq("h"), "left_anti").count()
  }
}
