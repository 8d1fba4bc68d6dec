package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.{HammingDistance, PqAdcScore, VectorDot}
import graft.sources.pcap.PcapDataSource

/** Session extensions giving the reference's literal SQL surface
  * (`SELECT * FROM read_pcap('f.pcap', …)`, reference registration
  * `src/wireduck_extension.cpp:464-470`) on Spark, via a Catalyst
  * table-function injection (SURVEY §4.3's optional quality-of-life item).
  *
  * It also injects the engine's codegen functions ([[GraftExtensions.functions]])
  * and its two optimizer rules, [[graft.plans.SimJoinBandRewrite]] and
  * [[graft.plans.RangeJoinBinRewrite]], which run in the operator
  * optimization batch. The rules exist only in sessions built with the
  * extension: [[GraftSession]] always adds it; any other session enables it
  * with `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `builder.withExtensions(new GraftExtensions)`.
  *
  * Supported argument shapes (positional and named):
  * {{{
  *   SELECT * FROM read_pcap('/caps/fix.pcap')
  *   SELECT * FROM read_pcap('/caps/fix.pcap', 'ip,tcp', 100, 'tcp.len > 0')
  *   SELECT * FROM read_pcap('/caps/x*.pcap', protocols => 'ip,tcp', climit => 100)
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectTableFunction((
      FunctionIdentifier("read_pcap"),
      new ExpressionInfo(classOf[PcapDataSource].getName, "read_pcap"),
      (args: Seq[Expression]) => ReadPcapTableFunction.plan(args)))
    ext.injectTableFunction((
      FunctionIdentifier("initialize_glossary"),
      new ExpressionInfo(classOf[PcapDataSource].getName, "initialize_glossary"),
      (_: Seq[Expression]) => InitializeGlossaryTableFunction.plan()))
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.SimJoinBandRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinRewrite)
  }
}

object GraftExtensions {

  /** The engine's codegen expressions, callable by name from SQL and from
    * `call_function` (a Column cannot wrap a custom Expression directly).
    * The extension injects them; [[graft.api.Wireduck.setup]] registers
    * the same builders on a session built without the extension. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    binary("vector_dot", classOf[VectorDot])(VectorDot(_, _)),
    binary("hamming_distance", classOf[HammingDistance])(HammingDistance(_, _)),
    binary("pq_adc_score", classOf[PqAdcScore])(PqAdcScore(_, _)))

  private def binary(name: String, cls: Class[_])(make: (Expression, Expression) => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (args: Seq[Expression]) => {
      require(args.length == 2, s"$name takes exactly 2 arguments")
      make(args.head, args(1))
    })
}

/** `FROM initialize_glossary()` parity (reference `:264-272`, `:430-450`):
  * returns the two status rows. Side-effect-free here — glossary views are
  * (re)registered by `Wireduck.setup` / `Glossary.init`; the SQL form
  * reports the same statuses the reference procedure emits. */
object InitializeGlossaryTableFunction {
  def plan(): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val attr = AttributeReference("status_message", StringType, nullable = false)()
    LocalRelation(Seq(attr), Seq(
      InternalRow(UTF8String.fromString("glossary_protocols initialized")),
      InternalRow(UTF8String.fromString("glossary_fields initialized"))))
  }
}

object ReadPcapTableFunction {
  private def valueOf(e: Expression): String = e match {
    case Literal(null, _) => null
    case l: Literal       => l.value.toString
    case other if other.foldable =>
      val v = other.eval(null); if (v == null) null else v.toString
    case other =>
      throw new IllegalArgumentException(
        s"read_pcap arguments must be literals, got: ${other.sql}")
  }

  /** Bind-time plan construction — the Spark analogue of the reference's
    * `ReadPcapBind` (`:80-131`), minus its spawn-at-bind hazard: only the
    * schema is resolved here; I/O starts in the partition readers. */
  def plan(args: Seq[Expression]): LogicalPlan = {
    var positional = Vector.empty[String]
    var named = Map.empty[String, String]
    args.foreach {
      case NamedArgumentExpression(k, v) => named += (k.toLowerCase -> valueOf(v))
      case e                             => positional :+= valueOf(e)
    }
    val opts = new java.util.HashMap[String, String]()
    val path = named.getOrElse("path",
      positional.headOption.getOrElse(
        throw new IllegalArgumentException("read_pcap requires a path argument")))
    opts.put("path", path)
    if (positional.size > 1) opts.put("protocols", positional(1))
    if (positional.size > 2) opts.put("climit", positional(2))
    if (positional.size > 3) opts.put("cfilter", positional(3))
    Seq("protocols", "climit", "cfilter", "compat", "backend", "desegment",
      "split", "split.mode")
      .foreach(k => named.get(k).foreach(opts.put(k, _)))

    val cis = new CaseInsensitiveStringMap(opts)
    val provider = new PcapDataSource
    val table = provider.getTable(provider.inferSchema(cis), Array.empty, opts)
    DataSourceV2Relation.create(table, None, None, cis)
  }
}
