package enginebench

import scala.collection.mutable

/** The benchmark's own filter language: a small tree that renders to the
  * engine's query text and is evaluated here, without engine code, to get
  * the expected result of every operation. */
sealed trait Expr {
  def render: String = this match {
    case Field(n) => n
    case Num(v) => Json.num(v)
    case Str(s) => Json.quote(s)
    case Arith(op, l, r) => s"(${l.render} $op ${r.render})"
  }
  def fields: Set[String] = this match {
    case Field(n) => Set(n)
    case Arith(_, l, r) => l.fields ++ r.fields
    case _ => Set.empty
  }
}
final case class Field(name: String) extends Expr
final case class Num(v: BigDecimal) extends Expr
final case class Str(v: String) extends Expr
final case class Arith(op: Char, l: Expr, r: Expr) extends Expr

sealed trait Pred {
  def render: String = this match {
    case Cmp(l, op, r) => s"${l.render} $op ${r.render}"
    case Has(f, vs) => s"$f has [${vs.map(Json.quote).mkString(",")}]"
    case And(l, r) => s"(${l.render}) and (${r.render})"
    case Or(l, r) => s"(${l.render}) or (${r.render})"
  }
  def fields: Set[String] = this match {
    case Cmp(l, _, r) => l.fields ++ r.fields
    case Has(f, _) => Set(f)
    case And(l, r) => l.fields ++ r.fields
    case Or(l, r) => l.fields ++ r.fields
  }
}
final case class Cmp(l: Expr, op: String, r: Expr) extends Pred
final case class Has(field: String, values: Seq[String]) extends Pred
final case class And(l: Pred, r: Pred) extends Pred
final case class Or(l: Pred, r: Pred) extends Pred

/** Sort key: field name (`id` is the item id) and direction. */
final case class Sort(field: String, desc: Boolean = false) {
  def render: String = (if (desc) "-" else "") + field
}

/** Expected query outcome: the rows, or an error code. */
sealed trait Expect
final case class Rows(docs: Seq[Doc]) extends Expect
final case class Error(code: String) extends Expect

/** Reference semantics, written from the engine's documented contract:
  *  - a row is rejected when any field the filter names is missing, also
  *    under `or` (an evaluation error rejects the row);
  *  - comparisons are decimal when both sides are numbers, text otherwise;
  *  - sort keys order numbers before text before missing ascending, the
  *    reverse descending; ties break on item id ascending; `id` alone
  *    sorts by item id in the requested direction;
  *  - the skipped-rows limit counts rejected rows by position in item-id
  *    scan order before the row that fills the page. */
object Model {
  def eval(p: Pred, d: Doc): Boolean =
    p.fields.forall(d.fields.contains) && truth(p, d).getOrElse(false)

  private def truth(p: Pred, d: Doc): Option[Boolean] = p match {
    case And(l, r) => for (a <- truth(l, d); b <- truth(r, d)) yield a && b
    case Or(l, r) => for (a <- truth(l, d); b <- truth(r, d)) yield a || b
    case Has(f, vs) => d.fields.get(f).map {
      case s: String => vs.contains(s)
      case n: BigDecimal => vs.exists(v => v == Json.num(n))
      case _ => false
    }
    case Cmp(l, op, r) =>
      for (a <- value(l, d); b <- value(r, d); c <- compare(a, b)) yield op match {
        case "=" => c == 0; case "!=" => c != 0
        case ">" => c > 0; case ">=" => c >= 0
        case "<" => c < 0; case "<=" => c <= 0
      }
  }

  private def compare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _ => None
  }

  private def value(e: Expr, d: Doc): Option[Any] = e match {
    case Field(n) => d.fields.get(n)
    case Num(v) => Some(v)
    case Str(s) => Some(s)
    case Arith(op, l, r) =>
      for {
        a <- value(l, d).collect { case n: BigDecimal => n }
        b <- value(r, d).collect { case n: BigDecimal => n }
      } yield op match { case '+' => a + b; case '-' => a - b; case '*' => a * b }
  }

  /** Ordering of rows under `sort`, ties on item id. */
  def ordering(sort: Seq[Sort]): Ordering[Doc] = {
    val idOnly = sort.size == 1 && sort.head.field == "id"
    if (sort.isEmpty) Ordering.by[Doc, String](_.id)
    else if (idOnly) {
      val asc = Ordering.by[Doc, String](_.id)
      if (sort.head.desc) asc.reverse else asc
    } else new Ordering[Doc] {
      def compare(a: Doc, b: Doc): Int = {
        val it = sort.iterator
        var c = 0
        while (c == 0 && it.hasNext) {
          val s = it.next()
          c = keyCompare(a.fields.get(s.field), b.fields.get(s.field))
          if (s.desc) c = -c
        }
        if (c != 0) c else a.id.compareTo(b.id)
      }
    }
  }

  private def rank(v: Option[Any]): Int = v match {
    case Some(_: BigDecimal) => 0
    case Some(_) => 1
    case None => 2
  }

  private def keyCompare(a: Option[Any], b: Option[Any]): Int = {
    val r = Integer.compare(rank(a), rank(b))
    if (r != 0) r
    else (a, b) match {
      case (Some(x: BigDecimal), Some(y: BigDecimal)) => x.compare(y)
      case (Some(x), Some(y)) => x.toString.compareTo(y.toString)
      case _ => 0
    }
  }

  /** Expected first page of a collection query. `items` are the visible
    * items in item-id order; None means the collection does not exist. */
  def query(items: Option[IndexedSeq[Doc]], filter: Option[Pred],
      sort: Seq[Sort], size: Int, skipMax: Int): Expect = items match {
    case None => Error("not-found")
    case Some(all) =>
      val accepted = filter.fold(all)(p => all.filter(eval(p, _)))
      if (filter.isDefined && skipMax >= 0 && skipLimited(all, accepted.size,
          filter.get, sort, size, skipMax)) Error("query-skipped-rows-limited")
      else Rows(accepted.sorted(ordering(sort)).take(size))
  }

  private def skipLimited(all: IndexedSeq[Doc], kept: Int, p: Pred,
      sort: Seq[Sort], size: Int, skipMax: Int): Boolean = {
    val idOnly = sort.size == 1 && sort.head.field == "id"
    val exact = sort.isEmpty || idOnly
    val target = if (exact) size.toLong else size.toLong + skipMax
    if (all.size - kept <= skipMax) false
    else if (kept < target) true
    else {
      val scan = if (idOnly && sort.head.desc) all.reverse else all
      var accepted = 0L
      var skipped = 0L
      val it = scan.iterator
      while (accepted < target && it.hasNext)
        if (eval(p, it.next())) accepted += 1 else skipped += 1
      skipped > skipMax
    }
  }

  /** Expected page after `lastId` under the same filter and sort. */
  def page(items: IndexedSeq[Doc], filter: Option[Pred], sort: Seq[Sort],
      lastId: String, size: Int): Expect = {
    val ordered = filter.fold(items)(p => items.filter(eval(p, _)))
      .sorted(ordering(sort))
    val at = ordered.indexWhere(_.id == lastId)
    Rows(if (at < 0) Nil else ordered.drop(at + 1).take(size))
  }
}

/** One write as the benchmark issues it; `item` is empty for an operation
  * on the collection itself (and for POST, whose id the engine assigns). */
final case class Write(seq: Long, method: String, uri: String, item: String,
    body: Option[Map[String, Any]]) {
  def path: String = if (item.isEmpty) uri else s"$uri/$item"
  def bodyJson: String = body.map(Json.render).orNull
}

/** What the model expects an accepted write to publish. For a POST,
  * `item` is the model's provisional key; the id comes from the event. */
final case class Event(uri: String, item: String, method: String,
    revision: Long, body: Option[Map[String, Any]], post: Boolean)

/** Collection state of the write model: visible items, the collection
  * revision (one per accepted write) and whether any row exists. */
final class CollState(var revision: Long, var exists: Boolean,
    var tombstoned: Boolean, val items: mutable.TreeMap[String, Doc])

/** Reference write semantics: PUT replaces the body (null fields dropped,
  * `id` added); PATCH merges field by field, a null deletes the field;
  * PATCH or DELETE of an absent item and DELETE of an empty collection are
  * rejected as not-found; PUT on the collection itself is rejected with
  * 409; a collection DELETE hides every item written before it; POST adds
  * an item under an engine-assigned id, ids increasing in op order. */
final class WriteModel(initial: Map[String, Vector[Doc]]) {
  /** Loaded items carry revisions 1..n, so a collection starts at n. */
  val colls: mutable.Map[String, CollState] = mutable.Map.empty
  initial.foreach { case (uri, docs) =>
    colls(uri) = new CollState(docs.size.toLong, docs.nonEmpty, false,
      mutable.TreeMap.from(docs.map(d => d.id -> d)))
  }

  private def coll(uri: String): CollState =
    colls.getOrElseUpdate(uri, new CollState(0L, false, false, mutable.TreeMap.empty))

  def visible(uri: String): Option[IndexedSeq[Doc]] = colls.get(uri).collect {
    case c if c.exists && !(c.tombstoned && c.items.isEmpty) => c.items.values.toIndexedSeq
  }

  def get(uri: String, item: String): Option[Doc] =
    colls.get(uri).flatMap(_.items.get(item))

  private def stripNulls(b: Map[String, Any]): Map[String, Any] =
    b.filter { case (_, v) => v != null }

  /** Apply one batch in seq order. Returns the events the batch must
    * publish, in revision order per collection, and the rejection count.
    * POST items are added once their engine ids are known ([[adopt]]). */
  def apply(batch: Seq[Write]): (Seq[Event], Int) = {
    val events = Seq.newBuilder[Event]
    var rejected = 0
    batch.sortBy(_.seq).foreach { w =>
      val c = coll(w.uri)
      def emit(item: String, method: String, body: Option[Map[String, Any]],
          post: Boolean = false): Unit = {
        c.revision += 1
        c.exists = true
        events += Event(w.uri, item, method, c.revision, body, post)
      }
      (w.method, w.item.isEmpty) match {
        case ("PUT", true) => rejected += 1
        case ("PUT", false) =>
          val d = Doc(w.item, stripNulls(w.body.get))
          c.items(w.item) = d
          emit(w.item, "feed:put", Some(d.fields + ("id" -> d.id)))
        case ("POST", true) =>
          // held under a provisional key until the engine's id is known
          val key = WriteModel.provisional(w.seq)
          c.items(key) = Doc(key, stripNulls(w.body.get))
          emit(key, "feed:put", Some(stripNulls(w.body.get)), post = true)
        case ("PATCH", false) =>
          c.items.get(w.item) match {
            case None => rejected += 1
            case Some(old) =>
              val d = Doc(w.item, stripNulls(old.fields ++ w.body.get - "id"))
              c.items(w.item) = d
              emit(w.item, "feed:patch", Some(d.fields + ("id" -> d.id)))
          }
        case ("DELETE", false) =>
          if (c.items.remove(w.item).isEmpty) rejected += 1
          else emit(w.item, "feed:delete", None)
        case ("DELETE", true) =>
          if (c.items.isEmpty) rejected += 1
          else {
            c.items.clear()
            c.tombstoned = true
            emit("", "feed:delete", None)
          }
        case other => sys.error(s"unmodelled write: $other")
      }
    }
    (events.result(), rejected)
  }

  /** Move a POSTed item from its provisional key to the id the engine
    * assigned, unless a later write of the batch already hid it. */
  def adopt(uri: String, key: String, id: String): Unit = {
    val c = coll(uri)
    c.items.remove(key).foreach(d => c.items(id) = d.copy(id = id))
  }
}

object WriteModel {
  def provisional(seq: Long): String = s"\u0000post-$seq"
}
