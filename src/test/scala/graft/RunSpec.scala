package graft

/** The `graft.Run` CLI's up-front checks. */
class RunSpec extends SparkSpec {

  test("graft.Run fails on a missing models YAML before anything " +
      "materializes") {
    val empty = java.nio.file.Files.createTempDirectory("graft_no_models")
    val wh = java.nio.file.Files.createTempDirectory("graft_run_wh").toFile
    val prev = sys.props.get("graft.models.root")
    sys.props("graft.models.root") = empty.toString
    try {
      val e = intercept[IllegalArgumentException](
        Run.main(Array(Sf0001, wh.getPath)))
      assert(e.getMessage.contains("no schema YAML found"))
      assert(wh.list().isEmpty, "no model may land before the check")
    } finally prev match {
      case Some(v) => sys.props("graft.models.root") = v
      case None => sys.props -= "graft.models.root"
    }
  }
}
