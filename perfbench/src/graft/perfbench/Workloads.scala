package graft.perfbench

/** A workload: one closed loop of one client over one input family. */
trait Workload {
  def name: String
  def run(ctx: Main.Ctx): Main.Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(CatalogApi, SceneIngest, Curation)
  val names: Seq[String] = all.map(_.name)
  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}
