package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** One doc_oltp client op. */
sealed trait OltpOp
final case class Lookup(key: Long) extends OltpOp
/** 10 docs: `updates` are (live key, new version), `inserts` new keys. */
final case class Upsert(updates: Seq[(Long, Int)], inserts: Seq[Long])
    extends OltpOp
final case class Delete(keys: Seq[Long]) extends OltpOp

/** The doc_oltp op generator and the model of what the store must hold.
  *
  * The op stream depends only on the seed and on the model's own state,
  * never on timing or on what the store answered, so one seed always
  * yields one op sequence. Mix: lookup : upsert : delete = 2 : 1 : 1,
  * exactly, in every block of four ops (shuffled within the block), so
  * runs of any seed time the same mix.
  * Half the lookups go to one of the last [[RecentWindow]] written keys,
  * half are uniform over every key ever issued (deleted ones included,
  * which must read back as absent). */
final class OltpModel(seed: Long, val preloaded: Long) {
  import OltpModel._

  private val rng = new java.util.SplittableRandom(seed)
  private var nextKey = preloaded + 1
  private val version = mutable.HashMap.empty[Long, Int]
  // live keys with O(1) uniform pick and removal
  private val live = mutable.ArrayBuffer.tabulate(preloaded.toInt)(_ + 1L)
  private val slot = mutable.HashMap.empty[Long, Int]
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var block = List.empty[Int]

  private def slotOf(k: Long): Int =
    slot.getOrElse(k, if (k <= preloaded) (k - 1).toInt else -1)

  private def addLive(k: Long): Unit = { slot(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = slotOf(k)
    val last = live.last
    live(i) = last
    slot(last) = i
    live.remove(live.size - 1)
    slot(k) = -1
  }
  private def touch(k: Long): Unit = {
    recent += k
    if (recent.size > RecentWindow) recent.remove(0)
  }
  private def distinctLive(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += live(rng.nextInt(live.size))
    out.toSeq
  }

  def isLive(k: Long): Boolean = slotOf(k) >= 0

  /** Draw the next op and apply it to the model. */
  def next(): OltpOp = {
    if (block.isEmpty) {
      val b = Array(0, 1, 2, 3)
      for (i <- 3 until 0 by -1) {
        val j = rng.nextInt(i + 1)
        val t = b(i); b(i) = b(j); b(j) = t
      }
      block = b.toList
    }
    val kind = block.head
    block = block.tail
    val op = kind match {
      case 0 | 1 =>
        val k =
          if (recent.nonEmpty && rng.nextBoolean())
            recent(rng.nextInt(recent.size))
          else 1 + rng.nextLong(nextKey - 1)
        Lookup(k)
      case 2 =>
        val ups = distinctLive(DocsPerWrite / 2)
          .map(k => k -> (version.getOrElse(k, 0) + 1))
        val ins = (0 until DocsPerWrite - ups.size).map(i => nextKey + i)
        Upsert(ups, ins)
      case _ => Delete(distinctLive(DocsPerWrite))
    }
    op match {
      case Upsert(ups, ins) =>
        ups.foreach { case (k, v) => version(k) = v; touch(k) }
        ins.foreach { k => version(k) = 0; addLive(k); touch(k) }
        nextKey += ins.size
      case Delete(ks) => ks.foreach { k => removeLive(k); touch(k) }
      case _ => ()
    }
    op
  }

  /** Content a key holds at `version` (inserts hold version 0 of a key
    * beyond the preload, which [[Corpus.order]] generates the same way). */
  def doc(k: Long, v: Int): Order = Corpus.order(seed, k, v)

  /** What `getJson(k)` must return now. An upsert rewrites only the root
    * row, so items stay those of the preloaded version; keys inserted by
    * upsert have no stored items. */
  def expected(k: Long): Option[String] =
    if (!isLive(k)) None
    else {
      val items = if (k <= preloaded) doc(k, 0).items else Nil
      Some(Corpus.storedJson(Corpus.rootRow(doc(k, version.getOrElse(k, 0))),
        items))
    }

  /** Whether the store's answer for `k` equals the model's, comparing the
    * documents as JSON trees (field order is not part of the contract). */
  def check(k: Long, got: Option[String]): Boolean =
    (expected(k), got) match {
      case (None, None) => true
      case (Some(e), Some(g)) =>
        try mapper.readTree(e) == mapper.readTree(g)
        catch { case _: Exception => false }
      case _ => false
    }
}

object OltpModel {
  val DocsPerWrite = 10
  val RecentWindow = 64
  private val mapper = new ObjectMapper()
}
