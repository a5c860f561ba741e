package graftbench

import java.util.SplittableRandom

/** Order documents, each a pure function of (seed, key, version), so the
  * client, the correctness model and Spark's generator all agree on a
  * document without shipping it anywhere. */
final case class Customer(name: String, segment: String, nation: Int)
final case class Item(rowNum: Long, part: Long, qty: Int, cents: Long)
final case class Order(rowNum: Long, status: String, priority: String,
    total: Double, orderTime: String, customer: Customer, tags: Seq[String],
    items: Seq[Item])

object Corpus {
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Tags = Array("gift", "rush", "fragile", "bulk", "promo", "repeat",
    "export", "insured")
  val Parts = 20000L
  /** Item keys are `order * ItemSlots + i`, unique across the corpus. */
  val ItemSlots = 8

  private def rng(seed: Long, key: Long, version: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key * 0xBF58476D1CE4E5B9L
      ^ version.toLong * 0x94D049BB133111EBL)

  private def pick[T](r: SplittableRandom, xs: Array[T]): T =
    xs(r.nextInt(xs.length))

  private def time(r: SplittableRandom): String = {
    val day = r.nextInt(2400)
    val d = java.time.LocalDate.of(1995, 1, 1).plusDays(day.toLong)
    f"${d}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
  }

  private def tags(r: SplittableRandom): Seq[String] =
    Seq.fill(1 + r.nextInt(3))(pick(r, Tags))

  /** 1 to 7 items, 4 on average: 150k orders carry ~600k child rows. */
  private def items(r: SplittableRandom, key: Long): Seq[Item] =
    (0 until 1 + r.nextInt(7)).map { i =>
      Item(key * ItemSlots + i, r.nextLong(Parts), 1 + r.nextInt(50),
        90000L + r.nextLong(10410000L))
    }

  /** The doc_oltp document for `key`; `version` > 0 is the content of
    * the version-th upsert of that key. */
  def order(seed: Long, key: Long, version: Int = 0): Order = {
    val r = rng(seed, key, version)
    val cust = Customer(f"Customer#${r.nextInt(15000)}%09d", pick(r, Segments),
      r.nextInt(25))
    Order(key, pick(r, Statuses), pick(r, Priorities),
      (100000L + r.nextLong(49900000L)) / 100.0, time(r), cust, tags(r),
      items(r, key))
  }

  /** The stored root-table row of an [[Order]], by column name, under the
    * shred's documented normalizations: the key-less sub-object is
    * flattened to `customer$<field>` columns and the primitive array is
    * stored as JSON text. Child arrays are not part of the root row. */
  def rootRow(o: Order): Map[String, Any] = Map(
    "rowNum" -> o.rowNum, "status" -> o.status, "priority" -> o.priority,
    "total" -> o.total, "orderTime" -> o.orderTime,
    "tags" -> Json.value(o.tags),
    "customer$name" -> o.customer.name,
    "customer$segment" -> o.customer.segment,
    "customer$nation" -> o.customer.nation)

  /** The document `Engine.getJson` should return: the root row, plus the
    * re-nested `items` array when the key has stored items. */
  def storedJson(root: Map[String, Any], items: Seq[Item]): String = {
    val itemJson = items.sortBy(_.rowNum).map(i => Json.obj(
      "rowNum" -> i.rowNum, "part" -> i.part, "qty" -> i.qty,
      "cents" -> i.cents))
    val fields = root.toSeq ++
      (if (items.isEmpty) Nil
       else Seq("items" -> Json.Raw(itemJson.mkString("[", ",", "]"))))
    Json.obj(fields: _*)
  }
}
