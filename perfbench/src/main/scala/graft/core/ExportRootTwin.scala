package graft.core

/** Benchmark twin of the engine's ExportRoot: same per-process directory
  * names, rooted at the `perfbench.export.root` system property so the
  * benchmark writes only inside its own scratch tree. */
object ExportRoot {
  private val pid: Long = ProcessHandle.current().pid()
  private val root: String = sys.props.getOrElse("perfbench.export.root", sys.props("java.io.tmpdir"))
  def dir(name: String): String = s"$root/graft_${name}_p$pid"
}
