package graft

/** One shared local session for all suites. */
object TestSpark {
  // overridable so the suite can run against any data root (the sf
  // dirs referenced by specs all derive from this pin)
  val SF = sys.env.getOrElse("GRAFT_TESTDATA_SF", "/root/testdata/sf0.001")

  lazy val spark = {
    val s = graft.core.EngineDefaults.session(SF, 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
