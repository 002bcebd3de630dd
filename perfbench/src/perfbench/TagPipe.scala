package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.core.{Exprs, Snapshots}
import graft.ops.{Pipeline, Steps, Transform}
import graft.reports.Insights
import graft.sources.AlibStore

/** The reference system's own loop over an `alib`-shaped table: coverage
  * snapshot, a chain of numbered cleanup steps audited by the CDC
  * engine, changelog append, keyed writeback of the changed rows,
  * changelog summary, export narrowing, dashboards, and an idempotent
  * second pipeline pass over the written table. */
final class TagPipe(rows: Long, digests: Map[Long, String]) extends Workload {
  val name = "tagpipe"

  private val Key = "__path"
  private val TextCols = Seq("title", "album", "artist", "label")
  private val MvCols = Seq("albumartist", "composer", "lyricist",
    "arranger", "writer")
  private val DateCols = Seq("date", "originaldate")
  private val Critical = Seq("artist", "albumartist", "album", "genre",
    "date")

  private val Genres = Seq("Rock", "Pop", "Jazz", "Blues", "Classical",
    "Electronic", "Hip-Hop", "Folk", "Country", "Reggae", "Soul", "Funk",
    "Metal", "Punk", "Ambient", "Latin")
  private val Vocab = Seq("Silver", "Morning", "River", "Heart", "Window",
    "Highway", "Garden", "Thunder", "Shadow", "Letter", "Summer", "Winter",
    "Ocean", "Mirror", "Paper", "Golden", "Broken", "Electric", "Midnight",
    "Velvet", "Harbor", "Candle", "Falling", "Wild", "Distant", "Lonely",
    "Crystal", "Hollow", "Burning", "Northern", "Station", "Dancer")
  private val First = Seq("Anna", "Boris", "Clara", "David", "Elena",
    "Felix", "Greta", "Hugo", "Ines", "Jonas", "Karin", "Lukas", "Marta",
    "Nils", "Olga", "Pavel", "Quinn", "Rosa", "Stefan", "Tara")
  private val Last = Seq("Berg", "Castro", "Dahl", "Engel", "Falk", "Gray",
    "Holm", "Ivers", "Jensen", "Kovacs", "Lind", "Moreau", "Novak", "Ortiz",
    "Petrov", "Quist", "Ramos", "Sato", "Toth", "Urban")

  private var input = ""
  private var nBytes = 0L
  private var seed = 0L

  def inputRows: Long = rows
  def inputBytes: Long = nBytes

  private def steps(ctx: Ctx): Seq[Transform] = {
    val valid = ctx.spark.createDataFrame(
      Genres.map(Tuple1(_))).toDF("genre")
    Seq(
      Steps.involvedPeopleMerge("involvedpeople"),
      Steps.cleanText(TextCols),
      Steps.normBlanks(TextCols ++ MvCols ++ DateCols),
      Steps.dedupeMultiValue(MvCols),
      Steps.canonDates(DateCols),
      Steps.genreNormalize(Key, "genre", "style", valid),
      Steps.titleCase(Seq("title")),
      Steps.uuidAssign("track_uuid"))
  }

  // ---- generator ---------------------------------------------------

  private def r(salt: Int, m: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m.toLong)).cast("int")
  private def pick(xs: Seq[String], salt: Int): Column =
    element_at(typedlit(xs), r(salt, xs.size) + 1)
  private def person(salt: Int): Column =
    concat(pick(First, salt), lit(" "), pick(Last, salt + 1))
  private def maybe(pct: Int, salt: Int, c: Column): Column =
    when(r(salt, 100) < pct, c).otherwise(lit(null).cast("string"))
  private def date(salt: Int): Column = {
    val y = (r(salt, 60) + 1960).cast("string")
    val m = lpad((r(salt + 1, 12) + 1).cast("string"), 2, "0")
    val d = lpad((r(salt + 2, 28) + 1).cast("string"), 2, "0")
    val v = r(salt + 3, 100)
    when(v < 30, concat_ws("/", y, m, d))
      .when(v < 35, concat_ws(".", y, m, d))
      .when(v < 75, concat_ws("-", y, m, d))
      .otherwise(y)
  }

  /** The seeded alib table: one row per track, twelve tracks per album
    * directory, string-typed tag columns with the messiness the steps
    * clean up. */
  private def generate(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    val album = floor(col("id") / 12)
    val artistIdx = pmod(xxhash64(lit(seed), album, lit(1)), lit(4000L))
    val artist = concat(element_at(typedlit(First),
        (pmod(artistIdx, lit(First.size.toLong)) + 1).cast("int")),
      lit(" "), element_at(typedlit(Last),
        (pmod(floor(artistIdx / First.size), lit(Last.size.toLong)) + 1)
          .cast("int")))
    val title0 = concat_ws(" ", pick(Vocab, 10), pick(Vocab, 11),
      when(r(12, 100) < 50, pick(Vocab, 13)))
    val messy = r(14, 100)
    val title = when(messy < 12, lower(title0))
      .when(messy < 18, concat(lit("  "), title0, lit(" ")))
      .when(messy < 21, regexp_replace(title0, " ", "  "))
      .when(messy < 23, concat(title0, lit("\r\n")))
      .otherwise(title0)
    val artistCol = when(r(20, 100) < 8, concat(artist, lit("  ")))
      .otherwise(artist)
    val aa = when(r(22, 100) < 6, concat(artist, lit("\\\\"), artist))
      .when(r(22, 100) < 9, lit(null).cast("string"))
      .otherwise(artist)
    val genre1 = pick(Genres, 30)
    val genre2 = pick(Genres, 31)
    val delim = element_at(typedlit(Seq(", ", ";", "\\\\", " | ")),
      r(32, 4) + 1)
    val g = r(33, 100)
    val genre = when(g < 10, lower(genre1))
      .when(g < 35, concat(genre1, delim, genre2))
      .when(g < 42, concat(genre1, delim, lit("Unknown Genre")))
      .when(g < 45, lit(null).cast("string"))
      .otherwise(genre1)
    val hex = (salt: Int, bits: Int) =>
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1L << bits))
    val uuid = format_string("%08x-%04x-7%03x-%04x-%012x",
      hex(40, 32), hex(41, 16), hex(42, 12), hex(43, 14) + 32768,
      hex(44, 48))
    spark.range(0, rows, 1, ctx.slots * 2).select(
      format_string("/music/a%04d/al%06d/%08d.flac", artistIdx, album,
        col("id")).as(Key),
      format_string("/music/a%04d/al%06d", artistIdx, album).as("__dirpath"),
      title.as("title"),
      concat(pick(Vocab, 50), lit(" "), pick(Vocab, 51),
        when(r(52, 100) < 10, lit(" ")).otherwise(lit(""))).as("album"),
      artistCol.as("artist"),
      when(r(53, 100) < 5, lit(" ")).otherwise(pick(Vocab, 54)).as("label"),
      aa.as("albumartist"),
      maybe(60, 60, person(61)).as("composer"),
      maybe(30, 62, person(63)).as("lyricist"),
      maybe(20, 64, person(65)).as("arranger"),
      maybe(10, 66, person(67)).as("writer"),
      date(70).as("date"),
      maybe(50, 74, date(75)).as("originaldate"),
      genre.as("genre"),
      maybe(30, 80, pick(Genres, 81)).as("style"),
      maybe(25, 82, concat(person(83), lit(", mainartist - "), person(85),
        lit(", composerlyricist"))).as("involvedpeople"),
      when(r(90, 100) < 20, lit(null).cast("string")).otherwise(uuid)
        .as("track_uuid"),
      when(r(91, 100) < 5, lit("1")).otherwise(lit("0")).as("compilation"),
      (pmod(col("id"), lit(12L)) + 1).cast("string").as("tracknumber"),
      when(r(92, 100) < 70, lit("flac")).otherwise(lit("mp3")).as("filetype"),
      (r(93, 300) + 120).cast("string").as("duration"),
      (r(94, 40000000) + 2000000).cast("string").as("filesize"),
      lit(0).as("__sqlmodded"))
  }

  def setup(ctx: Ctx, root: String): Unit = {
    seed = ctx.seed
    input = s"$root/alib_v0"
    generate(ctx).write.mode("overwrite").parquet(input)
    nBytes = Disk.bytes(input)
  }

  // ---- one pass ----------------------------------------------------

  def pass(ctx: Ctx, dir: String): Long = {
    val spark = ctx.spark
    val alib = spark.read.parquet(input)
    ctx.op("snapshot_before") {
      ctx.call("core", "Snapshots.coverage")(
        Snapshots.coverage(alib, "before").collect())
    }
    val (state, changelog) = ctx.call("ops", "Pipeline.run")(
      Pipeline.run(alib, Key, steps(ctx)))
    // the changelog is the CDC engine's output: its plan runs here
    ctx.op("changelog_append") {
      ctx.call("cdc", "Cdc.diffAndLog")(
        changelog.write.mode("append").parquet(s"$dir/changelog"))
    }
    val log = spark.read.parquet(s"$dir/changelog")
    // writeback: only keys the changelog touched, with the reference's
    // per-step counter bump, upserted over the current table
    ctx.op("writeback") {
      val bumps = log.groupBy(col("key").as(Key))
        .agg(count(lit(1)).cast("int").as("__bump"))
      val incoming = state.join(bumps, Seq(Key))
        .withColumn("__sqlmodded",
          coalesce(col("__sqlmodded"), lit(0)) + col("__bump"))
        .drop("__bump")
      ctx.call("sources", "AlibStore.upsert")(
        AlibStore.upsert(alib, incoming, Key)
          .write.mode("overwrite").parquet(s"$dir/alib_v1"))
    }
    val v1 = spark.read.parquet(s"$dir/alib_v1")
    ctx.op("summarize") {
      ctx.call("cdc", "Cdc.summarize")(Cdc.summarize(log).collect())
    }
    ctx.op("export") {
      ctx.call("sources", "AlibStore.buildExport")(
        AlibStore.buildExport(v1, log, Key, Seq(Key, "__dirpath"))
          .write.mode("overwrite").parquet(s"$dir/export"))
    }
    ctx.op("snapshot_after") {
      ctx.call("core", "Snapshots.coverage")(
        Snapshots.coverage(v1, "after").collect())
    }
    val tracks = v1.withColumn("album_root", Exprs.albumRoot(col("__dirpath")))
    def dash(fn: String)(df: => DataFrame): Unit =
      ctx.op(s"dashboard.$fn") {
        ctx.call("reports", s"Insights.$fn")(df.collect())
      }
    dash("libraryKpis")(Insights.libraryKpis(tracks, "album", "albumartist",
      "duration", "filesize", "filetype"))
    dash("missingCriticalTags")(Insights.missingCriticalTags(tracks,
      "__dirpath", Critical, Some("compilation")))
    dash("vaClassification")(Insights.vaClassification(tracks, "album",
      "albumartist", "compilation"))
    dash("healthRadar")(Insights.healthRadar(tracks, "__dirpath", Critical,
      Some("compilation")))
    dash("topRoles")(Insights.topRoles(tracks, Seq("composer", "lyricist"),
      10))
    // the idempotence pass: the same chain over the written table
    ctx.op("repass") {
      val (_, again) = ctx.call("ops", "Pipeline.run")(
        Pipeline.run(v1, Key, steps(ctx)))
      val n = ctx.call("cdc", "Cdc.diffAndLog")(again.count())
      spark.createDataFrame(Seq(Tuple1(n))).toDF("n")
        .write.mode("overwrite").parquet(s"$dir/repass")
    }
    rows
  }

  // ---- checks ------------------------------------------------------

  private val UuidShape =
    "^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}\\z"

  /** UUIDs are minted per evaluation: compare them by shape only. */
  private def shaped(df: DataFrame): DataFrame =
    df.withColumn("track_uuid", col("track_uuid").rlike(UuidShape))

  private def shapedLog(log: DataFrame): DataFrame =
    log.withColumn("new_value",
      when(col("column") === "track_uuid",
        col("new_value").rlike(UuidShape).cast("string"))
        .otherwise(col("new_value")))

  /** Digest of the final table and the changelog, UUIDs by shape. */
  private def digest(ctx: Ctx, dir: String): String = {
    val spark = ctx.spark
    Digest.of(shaped(spark.read.parquet(s"$dir/alib_v1"))) + "/" +
      Digest.of(shapedLog(spark.read.parquet(s"$dir/changelog")))
  }

  def checks(ctx: Ctx, dir: String): Seq[(String, Option[String])] = {
    val spark = ctx.spark
    // lazy: a value that cannot be computed fails its own check only
    lazy val v1 = spark.read.parquet(s"$dir/alib_v1")
    lazy val sqlmodded = v1.agg(coalesce(sum("__sqlmodded"), lit(0L)))
      .head().getLong(0)
    lazy val logRows = spark.read.parquet(s"$dir/changelog").count()
    lazy val drift = {
      val (state, _) = Pipeline.run(spark.read.parquet(input), Key,
        steps(ctx))
      val cols = state.columns.filterNot(_ == "__sqlmodded").toSeq.map(col)
      Digest.symmetricDiff(shaped(v1.select(cols: _*)),
        shaped(state.select(cols: _*)))
    }
    lazy val repass = spark.read.parquet(s"$dir/repass").head().getLong(0)
    lazy val uuids = v1.filter(!col("track_uuid").rlike(UuidShape)).count()
    lazy val d = {
      val d = digest(ctx, dir)
      println(s"output-digest $seed $d")
      d
    }
    Seq(
      Checks.holds("sqlmodded_sum_equals_changelog_rows")(
        sqlmodded == logRows, s"sum(__sqlmodded)=$sqlmodded, changelog=$logRows"),
      Checks.holds("upserted_equals_final_state")(
        drift == 0, s"$drift rows differ"),
      Checks.holds("second_pass_emits_nothing")(
        repass == 0, s"second pass logged $repass changes"),
      Checks.holds("uuids_have_v7_shape")(uuids == 0, s"$uuids malformed"),
      Checks.holds("digest_matches_record")(
        digests.get(seed).forall(_ == d),
        s"digest $d, recorded ${digests.getOrElse(seed, "")}"))
  }

  def storeBytes(dir: String): Long =
    Seq("alib_v1", "changelog", "export").map(p => Disk.bytes(s"$dir/$p")).sum

  def inputDirs: Seq[String] = Seq(input)

  /** Steps that changed a row over rows diffed, and rows the writeback
    * wrote per row that changed. */
  def ratios(ctx: Ctx, dir: String, group: (Span => Boolean) => Trace.Group)
      : Seq[(String, Double)] = {
    val log = ctx.spark.read.parquet(s"$dir/changelog")
    val changedRowSteps = log.select("key", "script").distinct().count()
    val changedRows = log.select("key").distinct().count()
    val nSteps = steps(ctx).size
    val written = group(_.fn == "AlibStore.upsert").cost.rowsWritten
    Seq(
      "cdc.changed_row_ratio" -> changedRowSteps.toDouble / (rows * nSteps),
      "sources.rows_written_per_changed_row" ->
        written.toDouble / math.max(changedRows, 1L))
  }
}
