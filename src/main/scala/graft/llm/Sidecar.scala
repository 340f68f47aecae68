package graft.llm

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One long-lived child process speaking newline-delimited JSON over
  * stdin/stdout — the external-process boundary shared by
  * [[ProcessLlmClient]] and [[graft.sources.ProcessOcrEngine]]. Every
  * request carries an `id`; replies may arrive out of order and are routed
  * by it. Writes are serialized, one daemon reader completes per-id
  * futures, and a child that closes its stdout fails every pending call
  * with an IOException naming `what`.
  */
final class Sidecar private[llm] (command: Seq[String], what: String) {
  private val proc = {
    val pb = new ProcessBuilder(command: _*)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT) // executor log
    pb.start()
  }
  private val stdin = new BufferedWriter(new OutputStreamWriter(
    proc.getOutputStream, StandardCharsets.UTF_8))
  private val pending = new ConcurrentHashMap[Long, CompletableFuture[JsonNode]]()
  private val ids = new AtomicLong(0L)
  @volatile private var dead = false
  /** Liveness signal for activity-aware timeouts: any stdout line
    * counts — a child emitting replies (to anyone) is busy, not wedged. */
  private val lastReplyNanos = new AtomicLong(System.nanoTime())

  def alive: Boolean = !dead && proc.isAlive
  def nanosSinceLastReply: Long = System.nanoTime() - lastReplyNanos.get()

  private val reader = new Thread(() => {
    val in = new BufferedReader(new InputStreamReader(
      proc.getInputStream, StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      while (line != null) {
        lastReplyNanos.set(System.nanoTime())
        val node = try Some(SidecarPool.mapper.readTree(line))
          catch { case _: Exception => None } // stray stdout must not kill routing
        for (n <- node if n.has("id")) {
          val f = pending.remove(n.path("id").asLong())
          if (f != null) f.complete(n)
        }
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => () }
    finally failAll(s"$what closed its stdout")
  }, "graft-sidecar-reader")
  reader.setDaemon(true)
  reader.start()

  /** Write one request line `{"id":n, fields...}`; a write failure
    * (the child died under us) drops the slot and rethrows. */
  def submit(fields: (String, String)*): (Long, CompletableFuture[JsonNode]) = {
    val id = ids.incrementAndGet()
    val fut = new CompletableFuture[JsonNode]()
    pending.put(id, fut)
    val req = SidecarPool.mapper.createObjectNode()
    req.put("id", id)
    fields.foreach { case (k, v) => req.put(k, v) }
    try stdin.synchronized {
      stdin.write(SidecarPool.mapper.writeValueAsString(req)); stdin.write("\n")
      stdin.flush()
    } catch { case e: java.io.IOException =>
      pending.remove(id)
      throw e
    }
    (id, fut)
  }

  /** Forget a timed-out id so a late reply doesn't leak the future. */
  def abandon(id: Long): Unit = pending.remove(id)

  private def failAll(msg: String): Unit = {
    dead = true
    val it = pending.keySet().iterator()
    while (it.hasNext) {
      val f = pending.remove(it.next())
      if (f != null) f.completeExceptionally(new java.io.IOException(msg))
    }
  }

  def close(): Unit = {
    dead = true
    try stdin.close() catch { case _: Exception => () }
    proc.destroy()
    failAll(s"$what closed")
  }
}

/** One sidecar per command per JVM — i.e. per executor, exactly one copy
  * of the model in memory however many partition threads call. Each
  * client type owns its own pool, so two kinds of client never share a
  * child. Dead entries are replaced on the next `childFor`. */
final class SidecarPool(what: String) {
  private val children = new ConcurrentHashMap[String, Sidecar]()
  SidecarPool.all.add(this)

  private def key(command: Seq[String]): String = command.mkString("\u0000")

  def childFor(command: Seq[String]): Sidecar =
    children.compute(key(command), (_, existing) =>
      if (existing != null && existing.alive) existing
      else {
        if (existing != null) existing.close()
        new Sidecar(command, what)
      })

  def evict(command: Seq[String], child: Sidecar): Unit = {
    children.remove(key(command), child)
    child.close()
  }

  /** Stop every sidecar this pool started. */
  def shutdownAll(): Unit = {
    val it = children.keySet().iterator()
    while (it.hasNext) {
      val c = children.remove(it.next())
      if (c != null) c.close()
    }
  }
}

object SidecarPool {
  private[llm] val mapper = new ObjectMapper()
  private val all = new ConcurrentLinkedQueue[SidecarPool]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => all.forEach(_.shutdownAll())))
}
