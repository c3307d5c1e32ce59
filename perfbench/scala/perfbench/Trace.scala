package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call at a layer boundary. Spans of one pass or batch
  * share `op`; `parent` is the enclosing span's id (-1 at the top). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single driver thread. While off it
  * only runs the body: untraced operations pay no bookkeeping. While on
  * it also names the innermost span in the job-local property the
  * [[Ledger]] keys its counts by. */
final class Tracer(var on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  var sc: Option[SparkContext] = None

  def apply[T](op: Int, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      sc.foreach(_.setLocalProperty(Ledger.SpanKey, name))
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        open = open.tail
        sc.foreach(_.setLocalProperty(Ledger.SpanKey,
          open.headOption.map(_._2).orNull))
      }
    }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Per span name: (count, total seconds, self seconds). Self time is a
    * span's duration minus the part of it its direct children cover;
    * children of one span never overlap (one driver thread). */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name).map { case (name, ss) =>
      name -> ((ss.size, ss.map(_.seconds).sum,
        ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum))
    }
  }

  def toJson: String = {
    val rows = done.map(s => Json.Raw(Json.obj(Seq("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    val self = selfTimes.toSeq.sortBy(-_._2._3).map { case (n, (c, t, st)) =>
      Json.Raw(Json.obj(Seq("name" -> n, "count" -> c, "total_s" -> t,
        "self_s" -> st))) }
    Json.obj(Seq("spans" -> rows, "self_time" -> self))
  }
}

/** Minimal JSON rendering for the harness's own reports. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
