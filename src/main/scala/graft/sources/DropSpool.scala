package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** The receiver-side spool of [[FastHttpReceiver]]: accepted requests
  * append to an in-memory queue and a flusher thread rolls the queue into
  * a complete drop file (write temp + atomic rename) every `rollMillis`,
  * so the streaming file source never observes a half-written file.
  * Bounded: past `maxQueued` the offer is refused and the HTTP edge
  * answers 503 — ACKing into an unbounded queue would turn a stuck drop
  * dir (disk full, unwritable) into silent loss-on-crash of everything
  * acked since. */
final class DropSpool(dropDir: String, rollMillis: Long, maxQueued: Int) {

  val outFiles = new AtomicLong(0)
  private val queue = new ConcurrentLinkedQueue[String]()
  private val queued = new AtomicLong(0)
  @volatile private var running = true

  /** Enqueue one JSON line; false iff the queue is at capacity. */
  def offer(line: String): Boolean =
    if (queued.get() >= maxQueued) false
    else { queue.add(line); queued.incrementAndGet(); true }

  /** Drain the queue into one complete drop file (temp + atomic rename).
    * Synchronized: the flusher thread and stop()'s final drain may race,
    * and two concurrent rolls could mint the same `req-<ms>-<n>` name —
    * the second ATOMIC_MOVE would silently replace the first file. The
    * counter is claimed inside the lock for the same reason. */
  private def roll(): Unit = synchronized {
    val lines = Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
    queued.addAndGet(-lines.size.toLong)
    if (lines.nonEmpty) {
      try {
        val name =
          s"req-${System.currentTimeMillis()}-${outFiles.getAndIncrement()}.json"
        val tmp = Paths.get(dropDir, s".$name.tmp")
        Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
        Files.move(tmp, Paths.get(dropDir, name),
          StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Exception =>
        // failed roll must NOT drop acked requests: put them back so the
        // next attempt (or the queue cap's 503) handles the stall
        lines.foreach(queue.add)
        queued.addAndGet(lines.size.toLong)
        throw e
      }
    }
  }

  private val flusher = new Thread(() => {
    while (running) {
      Thread.sleep(rollMillis)
      try roll() catch { case e: Exception =>
        System.err.println(s"[receiver] roll failed: ${e.getMessage}") }
    }
  }, "drop-spool-flusher")

  def start(): DropSpool = {
    Files.createDirectories(Paths.get(dropDir))
    flusher.setDaemon(true)
    flusher.start()
    this
  }

  def stop(): Unit = {
    running = false
    flusher.join(2000)
    roll() // final drain so no accepted request is stranded in memory
  }
}
