package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.{Payloads, Windows}
import graft.ingest.Tables

/**
 * Batch twins of the four stored families, computed from the raw replay
 * lines with the repository's batch operators (`Windows.hoppingCounts`,
 * `Payloads.topEntityPayloads`, `Windows.rankTopEntities`) plus plain
 * DataFrame code for what they do not cover (retweet examples, which the
 * stream keeps per retweeting row, and the `max(text)` representative).
 * Only windows the stream has emitted (`window_end <= watermark`) are
 * kept, so a twin equals the store exactly when the pipeline is right.
 */
final class Twins(spark: SparkSession, files: Seq[String], watermarkSec: Long) {
  /** Release the cached inputs and families. */
  def release(): Unit = spark.catalog.clearCache()

  val tweets: DataFrame =
    Tables.projectTweets(Tables.tweetsFromJsonLines(spark.read.text(files: _*)))
      .cache()
  tweets.count()

  val kinds: Seq[String] = Seq("counts", "hashtags", "mentions", "retweets")

  /** `f` for each family, the four concurrently: the families are small, so
    * their jobs are mostly scheduling latency, which overlaps well. */
  def perKind[T](f: String => T): Map[String, T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // initialise the lazy families here: a lazy val initialiser holds this
    // object's monitor, which a caller inside another initialiser owns
    kinds.foreach(family)
    val all = Future.sequence(kinds.map(k => Future(k -> f(k))))
    Await.result(all, scala.concurrent.duration.Duration.Inf).toMap
  }

  private def emitted(df: DataFrame) = df.filter(col("window_end") <= watermarkSec)

  private def examples(c: Column): Column = transform(c, t => struct(
    t.getField("id").as("id"), t.getField("followerCount").as("followerCount"),
    t.getField("text").as("text"), t.getField("screenName").as("screenName"),
    t.getField("originalTweetId").as("originalTweetId")))

  private def windowed(entities: Column): DataFrame =
    tweets.select(col("*"), explode(entities).as("entity"))
      .select(col("*"), window(col("ts"), Windows.WindowSize, Windows.HopSize)
        .as("w"))
      .withColumn("window_end", col("w.end").cast("long"))

  private def maxText(entities: Column): DataFrame =
    windowed(entities).groupBy("window_end", "entity")
      .agg(max(col("text")).as("max_text"))

  /** Columns shared by the store rows and the twins, in one order. */
  val entityCols: Seq[String] = Seq("window_end", "entity", "tweet_count",
    "follower_sum", "rank", "max_text", "top_tweets")

  lazy val counts: DataFrame =
    emitted(Windows.hoppingCounts(tweets)).select("window_end", "cnt").cache()

  private def entityFamily(field: String): DataFrame = {
    val c = col(field)
    emitted(Payloads.topEntityPayloads(tweets, c)
      .select(col("window_end"), col("entity"), col("tweet_count"),
        col("followerCountSum").as("follower_sum"), col("rank"),
        examples(col("topTweets")).as("top_tweets"))
      .join(maxText(c), Seq("window_end", "entity")))
      .select(entityCols.map(col): _*)
  }

  lazy val hashtags: DataFrame = entityFamily("hashtags").cache()
  lazy val mentions: DataFrame = entityFamily("mentions").cache()

  /** Retweets group by the original id and keep the top examples per
    * retweeting row (no OP-27 dedupe), ranked follower count DESC, id ASC. */
  lazy val retweets: DataFrame = {
    val rows = windowed(array(col("originalTweetId").cast("string")))
      .filter(col("originalTweetId") =!= -1L)
    val stats = rows.groupBy("window_end", "entity")
      .agg(count(lit(1)).as("tweet_count"),
        sum(col("followerCount")).as("follower_sum"),
        max(col("text")).as("max_text"))
    val byWeight = Window.partitionBy(col("window_end"), col("entity"))
      .orderBy(col("followerCount").desc, col("id").asc)
    val ex = rows.withColumn("rn", row_number().over(byWeight))
      .filter(col("rn") <= Windows.ExamplesPerEntity)
      .groupBy("window_end", "entity")
      .agg(transform(array_sort(collect_list(struct(col("rn"),
        struct(col("id"), col("followerCount"), col("text"),
          col("screenName"), col("originalTweetId")).as("t")))),
        x => x.getField("t")).as("top_tweets"))
    emitted(Windows.rankTopEntities(stats.join(ex, Seq("window_end", "entity"))))
      .withColumn("rank", col("rank").cast("long"))
      .withColumn("top_users",
        transform(col("top_tweets"), t => t.getField("screenName")))
      .select((entityCols :+ "top_users").map(col): _*)
      .cache()
  }

  def family(kind: String): DataFrame = kind match {
    case "counts" => counts
    case "hashtags" => hashtags
    case "mentions" => mentions
    case "retweets" => retweets
  }

  /** The stored family in the twin's column order, plus its `batch`. */
  def stored(store: String, kind: String): DataFrame = {
    val df = spark.read.parquet(s"$store/$kind")
    val shaped =
      if (kind == "counts") df
      else df.withColumn("rank", col("rank").cast("long"))
        .withColumn("top_tweets", examples(col("top_tweets")))
    shaped.select(colsOf(kind).map(col) :+ col("batch").cast("long"): _*)
  }

  private def jsonOf(df: DataFrame, cols: Seq[String]): Column =
    to_json(struct(cols.map(c => df(c)): _*))

  private def colsOf(kind: String): Seq[String] = kind match {
    case "counts" => Seq("window_end", "cnt")
    case "retweets" => entityCols :+ "top_users"
    case _ => entityCols
  }

  /** Rows of the store family that differ from the twin, both directions,
    * and the `batch` directories the differing stored rows came from.
    * Both sides are small: they are compared as multisets of canonical
    * JSON rows on the driver. */
  def mismatches(store: String, kind: String): (Long, Set[Long]) = {
    val s = stored(store, kind)
    val got = s.select(jsonOf(s, colsOf(kind)), col("batch")).collect()
      .map(r => (Json.canonical(r.getString(0)), r.getLong(1)))
    val t = family(kind)
    val want = scala.collection.mutable.Map.empty[String, Int]
    t.select(jsonOf(t, colsOf(kind))).collect()
      .foreach(r => want(Json.canonical(r.getString(0))) =
        want.getOrElse(Json.canonical(r.getString(0)), 0) + 1)
    val storeOnly = got.filter { case (row, _) =>
      val left = want.getOrElse(row, 0)
      if (left > 0) want(row) = left - 1
      left == 0
    }
    (storeOnly.length + want.values.sum, storeOnly.map(_._2).toSet)
  }

  // ---- the serve commands, evaluated over the twins ----------------------

  private def tweetDescs(c: Column): Column = transform(c, t => struct(
    t.getField("id").as("Id"), t.getField("followerCount").as("FollowerCount"),
    t.getField("text").as("Text"), t.getField("screenName").as("ScreenName"),
    t.getField("originalTweetId").as("OriginalTweetId")))

  /** One answer row: its window end, entity and the REPL's record JSON. */
  private final case class Answer(windowEnd: Long, entity: String, json: String)

  /** Every twin row in the REPL's record shape for its family. */
  private lazy val answers: Map[String, Seq[Answer]] = {
    def shaped(kind: String, shape: Seq[Column]) = family(kind)
      .select(col("window_end"),
        (if (kind == "counts") lit("") else col("entity")),
        to_json(struct(shape: _*)))
      .collect().toSeq
      .map(r => Answer(r.getLong(0), r.getString(1), Json.canonical(r.getString(2))))
    def entityShape(field: String) = Seq(col("window_end").as("WindowTime"),
      col("follower_sum").as("FollowerCountSum"),
      col("tweet_count").as("TweetCount"), col("entity").as(field),
      tweetDescs(col("top_tweets")).as("TopTweets"))
    val shapes = Map(
      "counts" -> Seq(col("window_end").as("WindowTime"), col("cnt").as("Count")),
      "hashtags" -> entityShape("HashTag"),
      "mentions" -> entityShape("ScreenName"),
      "retweets" -> Seq(col("window_end").as("WindowTime"),
        col("follower_sum").as("FollowerCountSum"),
        col("tweet_count").as("TweetCount"),
        col("entity").cast("long").as("Id"), col("max_text").as("Text"),
        col("top_users").as("TopUsers")))
    perKind(k => shaped(k, shapes(k)))
  }

  private lazy val summary: Seq[String] =
    counts.agg(min("window_end").as("lo"), max("window_end").as("hi"),
        count(lit(1)).as("n"), sum("cnt").as("total"))
      .select(timestamp_seconds(col("lo")).as("MinDate"),
        timestamp_seconds(col("hi")).as("MaxDate"),
        (col("hi") - col("lo")).as("DurationSeconds"),
        col("n").as("WindowCount"), col("total").as("NumberOfTweets"))
      .toJSON.collect().toSeq.map(Json.canonical)

  /** The rows a REPL command must answer, as canonical JSON in answer
    * order: range reads ordered by (window end, entity), recent-N the
    * newest N by (window end, entity) descending. */
  def expected(line: String): Seq[String] = {
    def range(kind: String, s: String, e: String) = answers(kind)
      .filter(a => a.windowEnd >= s.toLong && a.windowEnd < e.toLong)
    def byTime(as: Seq[Answer]) =
      as.sortBy(a => (a.windowEnd, a.entity)).map(_.json)
    def newest(kind: String, n: String) = answers(kind)
      .sortBy(a => (a.windowEnd, a.entity)).reverse.take(n.toInt).map(_.json)
    def kindOf(cmd: String) = Seq("hashtags", "mentions", "retweets", "counts")
      .find(k => cmd.contains(k.stripSuffix("s"))).get
    line.trim.split("\\s+").toList match {
      case "getsummary" :: Nil => summary
      case cmd :: s :: e :: rest if cmd.startsWith("get") && rest.size <= 1 &&
          !cmd.startsWith("getrecent") =>
        byTime(range(kindOf(cmd), s, e)
          .filter(a => rest.headOption.forall(_ == a.entity)))
      case cmd :: n :: Nil if cmd.startsWith("getrecent") =>
        newest(kindOf(cmd), n)
    }
  }
}
