package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable.ArrayBuffer

/** One call into a layer's public function (or, when `derived`, one
  * Spark job that a call site places in a layer other than its
  * enclosing span's). Times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long, derived: Boolean = false) {
  def layer: String = Layers.layerOf(name)
}

/** Span recorder. Each span sets the Spark job group to its own id, so
  * every job the call triggers, on this thread or on a `Par.fork` leg
  * started inside it (fresh threads inherit local properties), is
  * labelled with the span. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  @volatile var op: Int = -1
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[A](name: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(-1)
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(Tracer.group(id), name)
    stack.set(id :: stack.get)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      spans.synchronized { spans += Span(id, name, parent, op, t0, t1) }
      stack.set(stack.get.tail)
      prev match {
        case Some(g) => sc.setJobGroup(g, "")
        case None => sc.clearJobGroup()
      }
    }
  }
}

object Tracer {
  def group(id: Int): String = s"sp$id"
  def spanOf(group: String): Option[Int] =
    if (group.startsWith("sp")) group.drop(2).toIntOption else None
}

/** The repository's modules, as the benchmark names its layers. */
object Layers {
  /** Modules that own work. Tables, Materialize, Par and the other
    * helpers are plumbing: a job they submit belongs to the module
    * that called them. */
  val owners = Seq("etl.StarSchema", "sources.Io", "report.Analytics",
    "llm.TextScoring", "llm.Dedup", "llm.TextPacking")

  def layerOf(spanName: String): String =
    owners.find(l => spanName.startsWith(l + ".")).getOrElse(
      spanName.split('.').dropRight(1).mkString("."))

  private val Frame = """\s*(?:\S*/)?graft\.([\w.]+?)\$?\.([\w$]+)\(.*""".r

  /** Innermost owning module frame of a job's call site, as
    * `layer.method`, if the call site has one. */
  def ownerFrame(callSite: String): Option[String] =
    callSite.split('\n').iterator.collect {
      case Frame(cls, m) if owners.contains(cls) => s"$cls.${method(m)}"
    }.nextOption()

  /** `$anonfun$corpusToShards$2` -> `corpusToShards` */
  private def method(m: String): String = {
    val parts = m.split('$').filter(_.nonEmpty)
    val named = parts.filterNot(p => p == "anonfun" || p.forall(_.isDigit) ||
      p == "adapted" || p == "apply" || p == "mcV" || p == "sp")
    named.headOption.getOrElse(m)
  }
}
