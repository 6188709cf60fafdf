package perfbench

import graft.Verify.jsonStr

/** Just enough JSON to hand the run's records to `run.py`; strings are
  * escaped by graft's own result dump. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  def op(o: OpRec): String = obj(Seq(
    "id" -> jsonStr(o.id), "name" -> jsonStr(o.name), "kind" -> jsonStr(o.kind),
    "phase" -> jsonStr(o.phase), "pass" -> o.pass.toString,
    "start_ms" -> num(o.startMs), "build_end_ms" -> num(o.buildEndMs),
    "end_ms" -> num(o.endMs), "ok" -> o.ok.toString, "err" -> jsonStr(o.err),
    "stats" -> nums(o.stats)))

  def span(s: Layers.Span): String = obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "layer" -> jsonStr(s.layer),
    "name" -> jsonStr(s.name), "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)))
}
