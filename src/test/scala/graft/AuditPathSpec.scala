package graft

/** The registry's round-trip audit queries write to a scratch store under
  * `java.io.tmpdir`; each call must remove it before returning.
  */
class AuditPathSpec extends SparkSpec {

  private def scratchDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String])
      .filter(n => n.startsWith("graft_vt_") || n.startsWith("graft_gate_")).toSet

  test("delta_audit_history and wf_gate_roundtrip leave no scratch dir behind") {
    val before = scratchDirs()
    val history = SparkEntry.queries("delta_audit_history")(spark, sfDir).collect()
    val gate = SparkEntry.queries("wf_gate_roundtrip")(spark, sfDir).collect()
    assert(history.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(gate.length === 1)
    assert(scratchDirs() -- before === Set.empty)
  }
}
