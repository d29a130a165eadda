package graft.agg

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{Column, Encoder}

/** One candidate row for the TopK aggregate: ranked by weight DESC with id
  * ASC as the total tie-break (determinism rule, SURVEY.md §7.3). */
case class TopKItem(weight: Double, id: Long)

/**
 * OP-26: bounded top-k as a typed `Aggregator` — the Spark analog of
 * Trill's built-in TopK aggregate (used at reference
 * TweetGateCore/Query.cs:65,98,130,156).
 *
 * The buffer never exceeds k elements and is kept sorted, so partial
 * (map-side) aggregation ships at most k rows per group per partition into
 * the shuffle — the property that makes per-group examples affordable at
 * 100 TB. `merge` is a k-bounded sorted merge, associative and commutative
 * (scalacheck-verified in TopKSpec), so the result is independent of
 * partitioning.
 *
 * For small k the composite built-in
 * `slice(sort_array(collect_list(struct(...)), false), 1, k)` is
 * equivalent (parity-tested); this aggregator is the scale path — it bounds
 * state where collect_list would buffer entire groups.
 */
class TopKIds(k: Int, distinct: Boolean = false)
    extends Aggregator[TopKItem, Seq[TopKItem], Seq[Long]] {
  require(k > 0)

  /** weight DESC, id ASC. */
  private val ord: Ordering[TopKItem] =
    Ordering.by((t: TopKItem) => (-t.weight, t.id))

  override def zero: Seq[TopKItem] = Vector.empty

  /** With `distinct = true` a (weight, id) value already in the buffer is
    * a no-op, so "buffer size" counts DISTINCT inputs — the property the
    * stop-shingle df cap needs when the input stream may repeat a
    * (doc, shingle) pair (ord equality ⟺ value equality here, since the
    * ordering is the injective map t → (-t.weight, t.id)). The duplicate
    * check must run BEFORE the evict-last path: evicting `last` to
    * re-insert an already-present value would silently drop an item. */
  override def reduce(b: Seq[TopKItem], a: TopKItem): Seq[TopKItem] =
    if (distinct && b.exists(x => ord.equiv(x, a))) b
    else if (b.size < k) insertSorted(b, a)
    else if (ord.lt(a, b.last)) insertSorted(b.init, a)
    else b

  private def insertSorted(b: Seq[TopKItem], a: TopKItem): Seq[TopKItem] = {
    val i = b.indexWhere(x => ord.gt(x, a)) match {
      case -1 => b.size
      case n  => n
    }
    (b.take(i) :+ a) ++ b.drop(i)
  }

  override def merge(b1: Seq[TopKItem], b2: Seq[TopKItem]): Seq[TopKItem] = {
    val s = (b1 ++ b2).sorted(ord)
    val d = if (!distinct || s.isEmpty) s
      else s.head +: s.sliding(2).collect {
        case Seq(p, c) if !ord.equiv(p, c) => c
      }.toVector
    d.take(k)
  }

  override def finish(r: Seq[TopKItem]): Seq[Long] = r.map(_.id)

  override def bufferEncoder: Encoder[Seq[TopKItem]] =
    ExpressionEncoder[Seq[TopKItem]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

/** The reference's full example payload (`TweetDescription`,
  * TweetGateCore/AggregatePayloads.cs:5-13): one stored example tweet of
  * an entity's per-window top-k. */
case class TweetExample(followerCount: Long, id: Long, text: String,
    screenName: String, originalTweetId: Long)

/** [[TopKTweets]] input: a [[TweetExample]] plus the dedupe key the
  * buffer is distinct over. Mentions/hashtags pass the effective
  * original-tweet id (OP-27, Query.cs:82-84: retweets of one tweet
  * collapse to one example); retweets pass the row's own id (the group
  * key IS the original id there — deduping by it would collapse the
  * examples to one, and the reference applies no dedupe on that path,
  * Query.cs:130-137). */
case class KeyedExample(dedupeKey: Long, followerCount: Long, id: Long,
    text: String, screenName: String, originalTweetId: Long)

/**
 * OP-26/27 fused: bounded top-k FULL example payloads, distinct per
 * dedupe key — the stored `TopTweets: TweetDescription[]` of the
 * reference's entity column families (AggregatePayloads.cs:29-42,
 * persisted via RocksDBStore.cs:96-127), as one bounded typed
 * `Aggregator`.
 *
 * Semantics (= batch [[Payloads.topEntityPayloads]]): per dedupe key
 * keep the best row (followerCount DESC, id ASC — the OP-27
 * max-follower representative), then the top-k keys by the same order.
 * The buffer holds at most k rows, one per key, kept sorted, so partial
 * aggregation ships <= k structs per group per partition — the bound
 * that makes full payloads (not just ids) affordable in the shuffle and
 * the state store at 100 TB.
 *
 * Despite the bound this is EXACT, not approximate (TopKSpec law vs the
 * unbounded compute). Invariants: (1) a buffered key's value is its best
 * row among ALL its arrived rows — re-entry after eviction requires
 * beating the buffer min, which only grows and was >= the key's max at
 * eviction, so any re-entering row is the key's new max; (2) an absent
 * key's best is <= the buffer min — it was either never inserted
 * (rejected rows are <= min) or evicted by k strictly-better distinct
 * keys, so it cannot belong to the true top-k. Merge takes the per-key
 * best of both buffers then the top k, exact by the same argument
 * applied per partition.
 *
 * Totality caveat: the order is total because a tweet id identifies one
 * tweet — distinct rows never collide on (followerCount, id). Exact
 * re-delivery of the same row (at-least-once sources) is a no-op in
 * `reduce` (key present, not strictly better).
 */
class TopKTweets(k: Int)
    extends Aggregator[KeyedExample, Seq[KeyedExample], Seq[TweetExample]] {
  require(k > 0)

  private val ord: Ordering[KeyedExample] =
    Ordering.by((t: KeyedExample) => (-t.followerCount, t.id))

  override def zero: Seq[KeyedExample] = Vector.empty

  override def reduce(b: Seq[KeyedExample],
      a: KeyedExample): Seq[KeyedExample] = {
    val i = b.indexWhere(_.dedupeKey == a.dedupeKey)
    if (i >= 0) {
      // key present: keep the better representative
      if (ord.lt(a, b(i))) insertSorted(b.take(i) ++ b.drop(i + 1), a)
      else b
    } else if (b.size < k) insertSorted(b, a)
    else if (ord.lt(a, b.last)) insertSorted(b.init, a)
    else b
  }

  private def insertSorted(b: Seq[KeyedExample],
      a: KeyedExample): Seq[KeyedExample] = {
    val i = b.indexWhere(x => ord.gt(x, a)) match {
      case -1 => b.size
      case n  => n
    }
    (b.take(i) :+ a) ++ b.drop(i)
  }

  override def merge(b1: Seq[KeyedExample],
      b2: Seq[KeyedExample]): Seq[KeyedExample] =
    (b1 ++ b2).groupBy(_.dedupeKey).valuesIterator
      .map(_.min(ord)).toVector.sorted(ord).take(k)

  override def finish(r: Seq[KeyedExample]): Seq[TweetExample] =
    r.map(e => TweetExample(e.followerCount, e.id, e.text, e.screenName,
      e.originalTweetId))

  override def bufferEncoder: Encoder[Seq[KeyedExample]] =
    ExpressionEncoder[Seq[KeyedExample]]()
  override def outputEncoder: Encoder[Seq[TweetExample]] =
    ExpressionEncoder[Seq[TweetExample]]()
}

object TopK {
  /** Untyped (DataFrame) form: `topKIds(10)(col("value"), col("id"))`. */
  def topKIds(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKIds(k), ExpressionEncoder[TopKItem]())
    (weight, id) => fn(weight, id)
  }

  /** Distinct-input form: duplicate (weight, id) pairs collapse, so the
    * buffer bound counts distinct inputs (see [[TopKIds.reduce]]). */
  def topKDistinctIds(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKIds(k, distinct = true),
      ExpressionEncoder[TopKItem]())
    (weight, id) => fn(weight, id)
  }

  /** Untyped form of [[TopKTweets]]: `topKTweets(10)(dedupeKey, fc, id,
    * text, screenName, originalTweetId)` → `array<struct<followerCount,
    * id, text, screenName, originalTweetId>>`. */
  def topKTweets(k: Int)
      : (Column, Column, Column, Column, Column, Column) => Column = {
    val fn = udaf(new TopKTweets(k), ExpressionEncoder[KeyedExample]())
    (key, fc, id, text, sn, oid) => fn(key, fc, id, text, sn, oid)
  }
}
