package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** A Zipf(s) sampler over ranks `0 until n` (rank 0 is the most likely). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rnd: java.util.Random): Int = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One generated replay: the files in admission order and, per file, the
  * tweets and notice lines it holds. */
final case class Replay(files: IndexedSeq[File], tweets: IndexedSeq[Int],
    notices: IndexedSeq[Int]) {
  def slice(from: Int, until: Int): Replay = Replay(files.slice(from, until),
    tweets.slice(from, until), notices.slice(from, until))
}

/**
 * Seeded generator of a v1.1 `statuses/filter`-shaped tweet replay, one
 * JSON object per line, one file per micro-batch.
 *
 * Shape (what the ingest workload needs to exercise):
 *  - Zipf-skewed hashtags, mentions and authors; Pareto follower counts;
 *  - about a third of tweets are retweets of a recent original, chosen
 *    Zipf-skewed so popular originals are retweeted many times (the
 *    OP-27 example dedupe has work); some tweets carry `extended_tweet`;
 *  - about 1% delete/limit notice lines, which ingest must reject;
 *  - per-tweet event-time jitter below 4 s (inside the 5 s watermark);
 *  - bursts of `filesPerBurst` dense files separated by 16 quiet hours,
 *    so even a store written from a few files spans several
 *    `window_date` partitions.
 */
object Replay {
  val Words: IndexedSeq[String] = ("spark stream window watermark state " +
    "shuffle join filter batch trigger commit offset store partition " +
    "query plan scan merge rank topk sketch dedup embed vector cluster " +
    "curate token corpus signal").split(" ").toIndexedSeq
  val BaseMs = 1709294400000L // 2024-03-01T12:00:00Z
  val TweetsPerSecond = 12
  val QuietGapMs: Long = 16L * 3600 * 1000
  val MaxJitterMs = 4000

  private final case class Original(id: Long, author: Int, text: String,
      extended: Option[String], tags: Seq[Int], mentions: Seq[Int])

  def write(dir: File, seed: Long, files: Int, tweetsPerFile: Int,
      filesPerBurst: Int): Replay = {
    dir.mkdirs()
    val rnd = new java.util.Random(seed)
    val users = 20000
    val userZipf = new Zipf(users, 1.05)
    val tagZipf = new Zipf(3000, 1.1)
    val poolZipf = new Zipf(400, 1.2)
    // Pareto(x_m = 8, alpha = 1.1) followers, capped like real accounts
    val followers = Array.fill(users) {
      math.min(50000000L, (8.0 / math.pow(1.0 - rnd.nextDouble(),
        1.0 / 1.1)).toLong)
    }
    val pool = new Array[Original](400)
    var poolSize = 0
    var poolNext = 0
    var nextId = 1000000000000L + (seed & 0xffffL) * 100000000L
    var clock = BaseMs
    val out = IndexedSeq.newBuilder[File]
    val tweetCounts = IndexedSeq.newBuilder[Int]
    val noticeCounts = IndexedSeq.newBuilder[Int]
    def words(n: Int): String =
      Seq.fill(n)(Words(rnd.nextInt(Words.size))).mkString(" ")
    for (f <- 0 until files) {
      if (f > 0 && f % filesPerBurst == 0) clock += QuietGapMs
      val file = new File(dir, f"replay-$f%05d.jsonl")
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
      var tweets = 0
      var notices = 0
      while (tweets < tweetsPerFile) {
        clock += rnd.nextInt(2 * 1000 / TweetsPerSecond + 1)
        val ts = clock - rnd.nextInt(MaxJitterMs)
        val line =
          if (rnd.nextInt(100) == 0) {
            notices += 1
            if (rnd.nextBoolean())
              s"""{"delete":{"status":{"id":${nextId - 1 - rnd.nextInt(1000)},"user_id":${userZipf.sample(rnd)}},"timestamp_ms":"$ts"}}"""
            else
              s"""{"limit":{"track":${rnd.nextInt(5000)},"timestamp_ms":"$ts"}}"""
          } else {
            tweets += 1
            nextId += 1 + rnd.nextInt(3)
            val author = userZipf.sample(rnd)
            val isRetweet = poolSize > 0 && rnd.nextInt(3) == 0
            val (text, ext, tags, mentions, rs) =
              if (isRetweet) {
                val o = pool(math.floorMod(poolNext - 1 -
                  poolZipf.sample(rnd) % poolSize, pool.length))
                val rsJson = o.extended.fold(
                  s"""{"id":${o.id},"extended_tweet":null}""")(full =>
                  s"""{"id":${o.id},"extended_tweet":{"full_text":"$full"}}""")
                (s"RT @u${o.author}: ${o.text}".take(140), None, o.tags,
                  o.author +: o.mentions, rsJson)
              } else {
                val tags = Seq.fill(rnd.nextInt(4) match {
                  case 3 => 2; case n => n
                })(tagZipf.sample(rnd)).distinct
                val mentions = Seq.fill(if (rnd.nextInt(3) == 0) 1 else 0)(
                  userZipf.sample(rnd))
                val body = (words(6 + rnd.nextInt(10)) +:
                  tags.map(t => s"#tag$t")) ++ mentions.map(m => s"@u$m")
                val text = body.mkString(" ")
                val ext =
                  if (rnd.nextInt(7) == 0)
                    Some(text + " " + words(20 + rnd.nextInt(20)))
                  else None
                pool(poolNext) = Original(nextId, author, text, ext, tags,
                  mentions)
                poolNext = (poolNext + 1) % pool.length
                poolSize = math.min(poolSize + 1, pool.length)
                (text, ext, tags, mentions, "null")
              }
            val extJson = ext.fold("null")(full => s"""{"full_text":"$full"}""")
            val tagJson = tags.map(t => s"""{"text":"tag$t"}""").mkString(",")
            val menJson =
              mentions.map(m => s"""{"screen_name":"u$m"}""").mkString(",")
            s"""{"id":$nextId,"text":"$text","timestamp_ms":"$ts","lang":"en","extended_tweet":$extJson,"entities":{"hashtags":[$tagJson],"user_mentions":[$menJson]},"user":{"followers_count":${followers(author)},"screen_name":"u$author"},"retweeted_status":$rs}"""
          }
        w.write(line)
        w.write('\n')
      }
      w.close()
      out += file
      tweetCounts += tweets
      noticeCounts += notices
    }
    Replay(out.result(), tweetCounts.result(), noticeCounts.result())
  }
}
