package graft.plans

/** Text-level physical-plan checks shared by the plan gates: the
  * exactly-once kernel count (PlanGuardSpec) and the whole-plan
  * equality compare (CapPlumbSpec).
  */
object PlanText {

  /** DISTINCT normalized plan lines containing `needle` — the honest
    * way to count how many places a plan evaluates an expression.
    * Raw substring hits lie in both directions: a cached plan prints
    * the SAME Project twice (the live node plus the InMemoryRelation's
    * stored copy — identical expression, so it normalizes away here),
    * while a real re-evaluation (the r15 alias-inlining bug) shows the
    * kernel in DIFFERENT contexts (`isnotnull(...)`, a join
    * condition, the original Project) that survive normalization as
    * distinct lines. Normalization strips the tree-position prefix
    * (indentation, codegen stars, connector glyphs, node numbers) so
    * the same node printed at two tree depths counts once.
    */
  def distinctSites(plan: String, needle: String): Set[String] =
    plan.linesIterator.filter(_.contains(needle))
      .map(_.replaceAll("""^[\s:+*()\d-]+""", "")).toSet

  /** Run-invariant normalization for WHOLE-plan equality compares
    * (CapPlumbSpec's "default-None leaves the graded plans
    * byte-identical" gate): two constructions of the same logical
    * pipeline differ only in allocator-assigned tokens — expression
    * ids (`#123`), codegen ids, plan/subquery ids, object addresses,
    * scan file paths — so those are canonicalized and everything else
    * must match byte for byte.
    */
  def normalize(plan: String): String =
    plan
      .replaceAll("""#\d+""", "#x")
      .replaceAll("""plan_id=\d+""", "plan_id=x")
      .replaceAll("""@[0-9a-fA-F]{6,}""", "@x")
      .replaceAll("""file:[^\]\),\s]*""", "file:x")
}
