package enginebench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** One collection item as the benchmark knows it: its id and its body
  * fields. Numbers are BigDecimal, text is String; a missing field is
  * simply absent from the map. */
final case class Doc(id: String, fields: Map[String, Any]) {
  /** The body as the engine stores it: the item's fields plus `id`. */
  def json: String = Json.render(fields + ("id" -> id))
}

/** Store make-up. One large collection (`items~`) and `smallCount` small
  * collections (`c000~` …) whose sizes spread deterministically over
  * `smallMin`..`smallMax` items, so every seed loads the same shape. */
final case class StoreShape(largeItems: Int, smallCount: Int,
    smallMin: Int, smallMax: Int) {
  def smallSize(c: Int): Int =
    smallMin + (c * 389) % (smallMax - smallMin + 1)
}

object Data {
  val Large = "items~"
  def small(c: Int): String = f"c$c%03d~"
  def largeId(i: Int): String = f"i$i%07d"
  def smallId(i: Int): String = f"k$i%05d"
  /** A collection that is never written: queries on it end in not-found. */
  val Missing = "absent~"

  val Cats: Vector[String] =
    Vector("amber", "blue", "cyan", "gray", "green", "plum", "red", "teal")

  /** Fields: `price` decimal (2 places), `cat` low-cardinality text, `qty`
    * small integer 0..9, `score` integer 0..99 missing from about 1 in 10
    * documents, `pad` 40..120 letters of padding.
    *
    * In the large collection, `qty` and the presence of `score` come from a
    * FIXED generator, not from the seed: the or-widening template
    * (`qty > 5` served by an index filtered on `score > 95 or qty > 5`)
    * then drops the same items on every seed. */
  def doc(id: String, rnd: scala.util.Random,
      structure: Option[scala.util.Random]): Doc = {
    val s = structure.getOrElse(rnd)
    val qty = s.nextInt(10)
    val hasScore = s.nextInt(10) != 0
    val base = Map[String, Any](
      "price" -> BigDecimal(1 + rnd.nextInt(99999), 2),
      "cat" -> Cats(rnd.nextInt(Cats.size)),
      "qty" -> BigDecimal(qty),
      "pad" -> letters(rnd, 40 + rnd.nextInt(81)))
    Doc(id, if (hasScore) base + ("score" -> BigDecimal(rnd.nextInt(100)))
      else base)
  }

  def letters(rnd: scala.util.Random, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  /** Every collection of a store, keyed by URI, items in id order. */
  def store(shape: StoreShape, seed: Long): Map[String, Vector[Doc]] = {
    val rnd = new scala.util.Random(seed)
    val structure = new scala.util.Random(0x5eedL)
    val large = Vector.tabulate(shape.largeItems)(i =>
      doc(largeId(i), rnd, Some(structure)))
    val smalls = (0 until shape.smallCount).map { c =>
      small(c) -> Vector.tabulate(shape.smallSize(c))(i =>
        doc(smallId(i), rnd, None))
    }
    (smalls :+ (Large -> large)).toMap
  }
}

/** Minimal JSON rendering and a normalized read-back for comparisons.
  * Numbers are compared as decimals, so `12.50` and `12.5` are equal. */
object Json {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def render(fields: Map[String, Any]): String =
    fields.toSeq.sortBy(_._1).map { case (k, v) => quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case d: BigDecimal => num(d)
    case s: String => quote(s)
    case other => sys.error(s"unsupported JSON value: $other")
  }

  def num(d: BigDecimal): String = d.bigDecimal.stripTrailingZeros.toPlainString

  def quote(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Parse a flat JSON object into the benchmark's field map. */
  def parse(s: String): Map[String, Any] = {
    val node = mapper.readTree(s)
    val b = Map.newBuilder[String, Any]
    node.fields().forEachRemaining { e => b += e.getKey -> scalar(e.getValue) }
    b.result()
  }

  private def scalar(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isNumber) BigDecimal(n.decimalValue())
    else if (n.isTextual) n.asText()
    else n.toString

  /** Field maps equal up to decimal scale. */
  def sameFields(a: Map[String, Any], b: Map[String, Any]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) =>
      (v, b(k)) match {
        case (x: BigDecimal, y: BigDecimal) => x.compare(y) == 0
        case (x, y) => x == y
      }
    }
}
