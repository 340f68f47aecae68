package graft.llm

import java.math.{BigDecimal => JBigDecimal}
import java.util.concurrent.{TimeUnit, TimeoutException}

/** Local-process inference client — the seam the reference fills with
  * MLX on Apple hardware (ondine/adapters/unified_litellm_client.py:197-339:
  * an in-process local model behind the same LLMClient protocol). A JVM
  * can't host mlx/llama.cpp weights in-process, so the Spark-native shape
  * is one long-lived sidecar process PER EXECUTOR speaking newline-
  * delimited JSON over stdin/stdout — the idiom local runners
  * (`mlx_lm.server`-style wrappers, llama.cpp drivers) adapt to in a
  * ten-line script, with zero network dependency and zero per-call
  * process-spawn cost:
  *
  *   request:  {"id":1,"prompt":"...","system":"..."}        (one line)
  *   response: {"id":1,"text":"...","tokens_in":7,"tokens_out":3}
  *             | {"id":1,"error":"...","retryable":false}
  *
  * Responses may arrive out of order (the sidecar may batch internally);
  * routing is by `id`. The child is a [[Sidecar]] shared per
  * (command, JVM) — i.e. per executor, exactly one copy of the model in
  * memory no matter how many partition threads call. A dead child fails
  * in-flight calls with a retryable [[NetworkError]] and is respawned on
  * the next call, so the operator's retry/error policy heals sidecar
  * crashes like any transient provider fault. Local inference carries
  * zero provider cost: `cost = 0`, token counts come from the sidecar
  * when it reports them (estimates otherwise).
  *
  * Selected via `LlmSpec.endpoint = "proc:<command line>"`
  * (e.g. `proc:python3 /opt/serve_mlx.py --model m`).
  */
class ProcessLlmClient(
    command: Seq[String],
    override val model: String,
    timeoutMs: Long = 180000L) extends LlmClient {
  require(command.nonEmpty, "proc: endpoint needs a command")
  require(timeoutMs > 0, "timeoutMs must be > 0")

  import ProcessLlmClient._

  def invoke(prompt: String, systemMessage: Option[String]): LlmResponse = {
    val t0 = System.nanoTime()
    val child = sidecars.childFor(command)
    val (id, fut) =
      try child.submit(Seq("prompt" -> prompt) ++ systemMessage.map("system" -> _): _*)
      catch { case e: java.io.IOException =>
        // write failed: the child died under us — evict so the next
        // call respawns, surface as retryable
        sidecars.evict(command, child)
        throw new NetworkError(s"local model process write failed: ${e.getMessage}")
      }
    val reply =
      try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
      catch {
        case _: TimeoutException =>
          child.abandon(id)
          throw new NetworkError(
            s"local model timed out after ${timeoutMs}ms")
        case e: InterruptedException =>
          // Invoke's per-call deadline: drop the pending slot so the
          // late reply can't leak, keep the interrupt visible
          child.abandon(id)
          throw e
        case e: java.util.concurrent.ExecutionException =>
          sidecars.evict(command, child)
          throw new NetworkError(
            s"local model process died: ${e.getCause.getMessage}")
      }
    if (reply.has("error")) {
      val retryable = reply.path("retryable").asBoolean(false)
      val msg = reply.path("error").asText("sidecar error")
      if (retryable) throw new NetworkError(msg)
      else throw new LlmError(msg, retryable = false)
    }
    val text = reply.path("text").asText("")
    val tIn = if (reply.has("tokens_in")) reply.path("tokens_in").asLong()
      else estimateTokens(prompt) + systemMessage.map(estimateTokens).getOrElse(0L)
    val tOut = if (reply.has("tokens_out")) reply.path("tokens_out").asLong()
      else estimateTokens(text)
    LlmResponse(text, tIn, tOut, model, JBigDecimal.ZERO,
      (System.nanoTime() - t0) / 1e6)
  }
}

object ProcessLlmClient {
  private val sidecars = new SidecarPool("local model process")

  /** Test/ops hook: stop every sidecar this JVM started. */
  def shutdownAll(): Unit = sidecars.shutdownAll()
}
