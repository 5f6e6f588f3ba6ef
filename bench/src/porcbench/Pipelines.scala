package porcbench

import graft.config.{CLI, JobSpec}
import graft.task.PTask

/** One pipeline run through the public CLI surface. Untraced, it is
  * `CLI.run`; traced, the same steps run as the public calls
  * `CLI.run` is made of (spec parse + option resolve, task build,
  * location bind, `Pipeline.run`), each in its own span. */
object Pipelines {
  def run(r: Run, name: String, specFile: String, cli: Seq[String])
      : Unit =
    if (!r.tr.on)
      CLI.run((Seq(name, "run", specFile) ++ cli).toArray, r.spark)
    else {
      val reg = CLI.pipelines(name)
      val (spec, opts) = r.tr.span("config.resolve") {
        val s = JobSpec.fromFile(specFile).withCliArgs(cli)
        (s, reg.options.resolveStrict(Some(s.data), cli))
      }
      val task = r.tr.span("task.build") { reg.build(r.spark, opts) }
        .asInstanceOf[PTask[Unit, Any]]
      r.tr.span("loc.bind") { spec.mappings.bind(task.requirements) }
      r.tr.span("task.run") {
        graft.Pipeline.run(r.spark, task, spec.mappings, (),
          cacheRoot = spec.cache)
      }
    }

  def writeSpec(path: String, body: String): String = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
    path
  }
}
