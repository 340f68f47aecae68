package graft.sources

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.concurrent.{TimeUnit, TimeoutException}

import javax.imageio.ImageIO

import graft.llm.SidecarPool

/** Sidecar-process OCR engine — the natural-scan seam the reference fills
  * with TesseractOCR/DocTROCR (ondine/knowledge/ocr.py:46-136). A JVM
  * cannot host those models, so the Spark-native shape is the
  * [[graft.llm.ProcessLlmClient]] idiom re-applied to rasters: one
  * long-lived [[graft.llm.Sidecar]] PER EXECUTOR (its own pool, never
  * shared with an LLM client) speaking newline-delimited JSON over
  * stdin/stdout — a real Tesseract wrapper is a ten-line script
  * (`pytesseract.image_to_string(Image.open(BytesIO(b64decode(...))))`)
  * and drops in with ZERO engine changes:
  *
  *   request:  {"id":1,"png_b64":"<base64 PNG>"}             (one line)
  *   response: {"id":1,"text":"..."} | {"id":1,"error":"..."}
  *
  * Replies may arrive out of order (an engine may batch pages);
  * routing is by `id`. The child is shared per (command, JVM) — one
  * model in memory per executor no matter how many partition threads
  * call.
  *
  * Failure semantics (matching the [[OcrEngine]] contract "never throws
  * on unreadable INPUT"): a per-image `{"error":...}` reply or an
  * un-encodable raster yields "" and the pipeline stays total. A DEAD or
  * timed-out sidecar is infrastructure failure, not unreadable input —
  * recognize throws (the Spark task retry respawns the child) rather
  * than silently emitting "" for readable pages.
  */
final class ProcessOcrEngine(
    command: Seq[String],
    timeoutMs: Long = 60000L) extends OcrEngine {
  require(command.nonEmpty, "sidecar OCR needs a command")
  require(timeoutMs > 0, "timeoutMs must be > 0")

  import ProcessOcrEngine._

  override def recognize(img: BufferedImage): String = {
    val png =
      try {
        val bos = new ByteArrayOutputStream()
        ImageIO.write(img, "png", bos)
        bos.toByteArray
      } catch { case _: Exception => null }
    if (png == null || png.length == 0) return "" // unreadable input → total
    val child = sidecars.childFor(command)
    val (id, fut) =
      try child.submit("png_b64" -> java.util.Base64.getEncoder.encodeToString(png))
      catch { case e: java.io.IOException =>
        sidecars.evict(command, child)
        throw new java.io.UncheckedIOException(
          s"OCR sidecar write failed: ${e.getMessage}", e)
      }
    // Activity-aware deadline: `timeoutMs` bounds time WITHOUT ANY REPLY
    // from the child, not wall time in line. Requests serialize on one
    // stdin, so a wide partition of slow pages can queue a page behind
    // many others — evicting on the first raw timeout would close() the
    // SHARED per-executor child and failAll() every other in-flight page
    // (one wedged page cascading into executor-wide task retries).
    // Eviction is reserved for a child that is DEAD or has produced
    // nothing at all for a full timeout window (truly wedged); a busy
    // child that keeps replying extends the wait up to MaxWaitRounds
    // windows, past which THIS page fails without killing the child.
    var rounds = 0
    while (true) {
      try {
        val reply = fut.get(timeoutMs, TimeUnit.MILLISECONDS)
        return if (reply.has("error")) "" // per-image failure → total
          else reply.path("text").asText("")
      } catch {
        case _: TimeoutException =>
          rounds += 1
          if (!child.alive) {
            child.abandon(id); sidecars.evict(command, child)
            throw new RuntimeException("OCR sidecar died (process exited)")
          } else if (child.nanosSinceLastReply >= timeoutMs * 1000000L) {
            child.abandon(id); sidecars.evict(command, child)
            throw new RuntimeException(
              s"OCR sidecar wedged (no reply to any request for ${timeoutMs}ms); evicted")
          } else if (rounds >= MaxWaitRounds) {
            child.abandon(id) // give up on THIS page; the child lives on
            throw new RuntimeException(
              s"OCR page timed out after $rounds x ${timeoutMs}ms behind a busy sidecar")
          } // replies are flowing — healthy queue wait, keep waiting
        case e: InterruptedException =>
          child.abandon(id); throw new RuntimeException(e)
        case e: java.util.concurrent.ExecutionException =>
          sidecars.evict(command, child)
          throw new RuntimeException(
            s"OCR sidecar died: ${e.getCause.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object ProcessOcrEngine {
  /** Max full timeout windows one page waits behind a busy-but-replying
    * sidecar before failing (without evicting the shared child). */
  private val MaxWaitRounds = 10
  private val sidecars = new SidecarPool("OCR sidecar")

  /** Test/ops hook: stop every OCR sidecar this JVM started. */
  def shutdownAll(): Unit = sidecars.shutdownAll()
}
