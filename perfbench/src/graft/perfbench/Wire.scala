package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}

import scala.collection.mutable.ArrayBuffer

import graft.sinks.bolt.{BoltFailure, BoltSocket, PackStream}

/** One Bolt statement's client-side result. `stats` is the PULL
  * summary's write statistics (empty for reads). */
final case class WireResult(fields: Seq[String], rows: Seq[Seq[Any]],
                            stats: Map[String, Long])

/** A Bolt client connection speaking the same frames as
  * `BoltSocketSession` (handshake, HELLO/LOGON, pipelined RUN + PULL),
  * over `BoltSocket`'s chunked PackStream framing. Unlike that session
  * it returns the PULL summary, whose `stats` the ingest check needs. */
final class WireClient(host: String, port: Int) extends AutoCloseable {
  import BoltSocket._

  private val socket = new Socket()
  socket.setTcpNoDelay(true)
  socket.connect(new InetSocketAddress(host, port), 15000)
  private val out = new DataOutputStream(
    new BufferedOutputStream(socket.getOutputStream, 1 << 16))
  private val in = new DataInputStream(
    new BufferedInputStream(socket.getInputStream, 1 << 16))

  locally {
    out.write(Magic)
    ProposedVersions.foreach(out.writeInt)
    out.flush()
    val v = in.readInt()
    require(v == 0x00000105, f"server picked Bolt version 0x$v%08X, want 5.1")
    writeMessage(out, PackStream.Struct(MsgHello,
      Seq(Map[String, Any]("user_agent" -> "graft-perfbench"))))
    await("HELLO", null)
    writeMessage(out, PackStream.Struct(MsgLogon,
      Seq(Map[String, Any]("scheme" -> "none"))))
    await("LOGON", null)
  }

  def run(cypher: String, params: Map[String, Any]): WireResult = {
    writeMessage(out, PackStream.Struct(MsgRun,
      Seq(cypher, params, Map.empty[String, Any])))
    writeMessage(out, PackStream.Struct(MsgPull,
      Seq(Map[String, Any]("n" -> -1L))))
    val runMeta = await("RUN", null)
    val rows = ArrayBuffer.empty[Seq[Any]]
    val pullMeta = await("PULL", rows)
    val fields = runMeta.get("fields") match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case _ => Seq.empty[String]
    }
    val stats = pullMeta.get("stats") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) =>
        k.toString -> v.asInstanceOf[Number].longValue() }
      case _ => Map.empty[String, Long]
    }
    WireResult(fields, rows.toSeq, stats)
  }

  /** Read until SUCCESS (collecting RECORD rows when `rows` is given);
    * FAILURE throws, leaving the connection to a RESET. */
  private def await(what: String, rows: ArrayBuffer[Seq[Any]])
      : Map[String, Any] = {
    var meta: Option[Map[String, Any]] = None
    while (meta.isEmpty) {
      val msg = readMessage(in)
      msg.signature match {
        case MsgSuccess =>
          meta = Some(msg.fields.headOption match {
            case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
            case _ => Map.empty[String, Any]
          })
        case MsgRecord if rows != null =>
          rows += msg.fields.head.asInstanceOf[Seq[Any]]
        case MsgFailure =>
          val m = msg.fields.head.asInstanceOf[Map[String, Any]]
          throw new BoltFailure(String.valueOf(m.getOrElse("code", "?")),
            String.valueOf(m.getOrElse("message", s"$what failed")))
        case other => throw new IllegalStateException(
          f"unexpected Bolt message 0x$other%02X during $what")
      }
    }
    meta.get
  }

  /** Clear a failed connection (FAILURE leaves it failed; the PULL
    * pipelined behind the failed RUN answers IGNORED). */
  def reset(): Unit = {
    writeMessage(out, PackStream.Struct(MsgReset, Seq.empty))
    var done = false
    while (!done) {
      val sig = readMessage(in).signature
      done = sig == MsgSuccess
    }
  }

  override def close(): Unit =
    try writeMessage(out, PackStream.Struct(MsgGoodbye, Seq.empty))
    catch { case _: java.io.IOException => () }
    finally socket.close()
}
