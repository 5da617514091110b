package graft.streaming

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.LocalPropsBridge

/** The IVM engines' batch plan: each materialization is a [[Waves.Node]]
  * that runs on a small shared pool once the nodes it reads have landed.
  * Inputs compose by `flatMap`, so a node's body never waits on another
  * node and no pool thread blocks on the pool, whatever the pool's size
  * or order. Only the driver waits, through [[Waves.awaitAll]].
  */
private[streaming] object Waves {

  /** A materialization and what it is: `what` names the batch, the step
    * and the table ("batch 3: rebuild of rootmap__…"). */
  final case class Node(what: String, future: Future[DataFrame])

  /** A node that has already landed on `df`. */
  def ready(what: String, df: DataFrame): Node = Node(what, Future.successful(df))

  /** The pool node bodies run on. Independent Spark jobs submitted from
    * several threads back-fill each other's task tails. */
  @volatile private[streaming] var pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-wave")
        t.setDaemon(true)
        t
      }))

  /** A node that runs `body` over the landed frames of `reads` (by key).
    * It captures the caller's Spark local properties now, so its jobs
    * carry the creating batch's job description and group: the thread
    * that dispatches it is the one that completed its last input, often
    * a node of the batch before. A failure is rethrown naming `what`,
    * with the original as its cause. */
  def submit(what: String, reads: Map[String, Node] = Map.empty)(
      body: (String => DataFrame) => DataFrame): Node = {
    implicit val sameThread: ExecutionContext = ExecutionContext.parasitic
    val props = LocalPropsBridge.capture()
    val ec = pool
    val (names, inputs) = reads.toSeq.unzip
    Node(what, Future.sequence(inputs.map(_.future)).flatMap { frames =>
      Future(LocalPropsBridge.withProperties(props) {
        try body(names.zip(frames).toMap)
        catch { case NonFatal(e) => throw new IllegalStateException(s"IVM $what failed: $e", e) }
      })(ec)
    })
  }

  private val slice = 30.seconds

  /** Wait until `node` lands, in slices: after each slice it is still
    * running, one line on stderr names it. Neither a slice nor an
    * interrupt ends the wait, so no node outlives the call that waits for
    * it; returns whether the wait was interrupted. */
  private def land(node: Node): Boolean = {
    var interrupted = false
    var slices = 0
    while (!node.future.isCompleted) {
      try Await.ready(node.future, slice)
      catch {
        case _: InterruptedException => interrupted = true
        case _: TimeoutException =>
          slices += 1
          System.err.println(
            s"[graft] IVM ${node.what}: still running after ${slices * slice.toSeconds} s")
      }
    }
    interrupted
  }

  /** The driver's wait for `node`: [[awaitAll]] of one. */
  def await(node: Node): DataFrame = awaitAll(Seq(node)).head

  /** Land every one of `nodes`, then throw an interrupt that came
    * meanwhile, then rethrow the first failure: neither leaves a node
    * running behind the caller. */
  def awaitAll(nodes: Seq[Node]): Seq[DataFrame] = {
    if (nodes.map(land).contains(true))
      throw new InterruptedException(
        s"interrupted while waiting for IVM ${nodes.map(_.what).mkString(", ")}")
    nodes.map(_.future.value.get.get)
  }
}
