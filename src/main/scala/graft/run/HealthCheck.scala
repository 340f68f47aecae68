package graft.run

import java.nio.file.{Files, Paths}

import graft.core.{Json, PipelineSpec}

/** Pre-flight health / readiness report for a configured pipeline —
  * the operational-monitoring surface (reference:
  * ondine/api/health_check.py:17-131: llm_provider / data_source /
  * checkpoint_storage checks, is_healthy, get_readiness).
  *
  * Pure config + filesystem inspection: no Spark job, no network call,
  * so an orchestrator (Airflow sensor, k8s readiness probe) can poll it
  * cheaply before committing cluster resources to a run.
  */
object HealthCheck {

  final case class Check(name: String, status: String, detail: String)

  final case class Status(status: String, checks: Seq[Check]) {
    def isHealthy: Boolean = status == "healthy"
    def toJson: String = Json.write(Json.obj("status" -> status,
      "checks" -> checks.map(c => Json.obj("name" -> c.name,
        "status" -> c.status, "detail" -> c.detail))))
  }

  /** Status rollup: any error → unhealthy; warnings keep "healthy" like
    * the reference (warning-level checks never flip the overall status —
    * health_check.py:79-101). */
  def check(spec: PipelineSpec, sourcePath: Option[String] = None,
      runDir: Option[String] = None): Status = {
    val llm =
      if (spec.llm.model.isEmpty)
        Check("llm_provider", "error", "no model configured")
      else spec.llm.endpoint match {
        case Some(url) =>
          val keyOk = spec.llm.apiKeyEnv.forall(e =>
            sys.env.get(e).exists(_.nonEmpty))
          if (keyOk) Check("llm_provider", "ok",
            s"model=${spec.llm.model} endpoint=$url")
          else Check("llm_provider", "error",
            s"api key env ${spec.llm.apiKeyEnv.get} unset")
        case None =>
          Check("llm_provider", "ok", s"model=${spec.llm.model} (in-process)")
      }

    val source = sourcePath match {
      case None => Check("data_source", "ok", "in-memory DataFrame")
      case Some(p) =>
        if (Files.exists(Paths.get(p))) Check("data_source", "ok", p)
        else Check("data_source", "warning", s"missing: $p")
    }

    val ckpt = runDir match {
      case None => Check("checkpoint_storage", "ok", "ephemeral (no run dir)")
      case Some(d) =>
        val path = Paths.get(d).toAbsolutePath
        if (Files.isDirectory(path))
          Check("checkpoint_storage", "ok", s"$d exists")
        else if (Files.exists(path)) // a FILE there blocks mkdirs entirely
          Check("checkpoint_storage", "error", s"$d exists but is not a directory")
        else {
          // mkdirs creates every missing level: walk to the nearest
          // EXISTING ancestor and judge writability there
          val ancestor = Iterator.iterate(path.getParent)(_.getParent)
            .takeWhile(_ != null).find(Files.exists(_))
          if (ancestor.exists(a => Files.isDirectory(a) && Files.isWritable(a)))
            Check("checkpoint_storage", "ok", s"$d creatable")
          else Check("checkpoint_storage", "warning", s"$d not writable")
        }
    }

    val checks = Seq(llm, source, ckpt)
    val overall = if (checks.exists(_.status == "error")) "unhealthy"
      else "healthy"
    Status(overall, checks)
  }

  /** Readiness = spec-combination validation (reference get_readiness:
    * health_check.py:117-131). Left(errors) when not ready. */
  def readiness(spec: PipelineSpec): Either[Seq[String], Unit] =
    try { spec.validate(); Right(()) }
    catch { case e: IllegalArgumentException => Left(Seq(e.getMessage)) }
}
