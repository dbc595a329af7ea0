package graft.infra

import graft.sinks.Applier

/** Heartbeat position writer — the reference's lag observability
  * (`/root/reference/dt-connector/src/extractor/mysql/mysql_cdc_extractor.rs:468-576`):
  * every `interval` seconds, REPLACE INTO a heartbeat table the
  * received (latest seen) and flushed (committed) stream positions, so
  * replication lag is measurable FROM THE TARGET with one primary-key
  * read. The heartbeat table itself must be filtered from extraction
  * (the reference adds it to ignore_tbs) or it would echo forever.
  *
  * Position model: the engine's changelog offsets (segment name + seq —
  * the binlog_filename/next_event_position analog). Given an
  * emitter, `CdcTask.run` offers a beat after each recorded batch
  * position; the interval gate and the statement shape are pure and
  * spec-driven.
  */
object Heartbeat {

  final case class Positions(
      receivedSegment: String, receivedSeq: Long, receivedTs: String,
      flushedSegment: String, flushedSeq: Long, flushedTs: String)

  /** The heartbeat table DDL (reference comment block,
    * mysql_cdc_extractor.rs:545-555, with the engine's position model).
    */
  def createTableSql(db: String, tb: String): String =
    s"""CREATE TABLE IF NOT EXISTS `$db`.`$tb` (
       |  server_id BIGINT,
       |  update_timestamp TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
       |  received_segment VARCHAR(255),
       |  received_seq BIGINT,
       |  received_timestamp VARCHAR(255),
       |  flushed_segment VARCHAR(255),
       |  flushed_seq BIGINT,
       |  flushed_timestamp VARCHAR(255),
       |  PRIMARY KEY(server_id)
       |)""".stripMargin

  /** One beat as a parameterized REPLACE (single-row upsert keyed by
    * server_id — the reference's REPLACE INTO, timestamps from the db's
    * clock via now()).
    */
  def replaceStatement(db: String, tb: String, serverId: Long,
      p: Positions): Applier.StatementBatch =
    Applier.StatementBatch(
      s"REPLACE INTO `$db`.`$tb` (server_id, update_timestamp, " +
        "received_segment, received_seq, received_timestamp, " +
        "flushed_segment, flushed_seq, flushed_timestamp) " +
        "VALUES (?, now(), ?, ?, ?, ?, ?, ?)",
      Seq(Seq(serverId, p.receivedSegment, p.receivedSeq, p.receivedTs,
        p.flushedSegment, p.flushedSeq, p.flushedTs)))

  /** Interval-gated emitter: at most one beat per `intervalMs`,
    * whatever the progress-event rate (the reference's
    * heartbeat_interval_secs loop).
    */
  final class Emitter(db: String, tb: String, serverId: Long,
      sink: Applier.StatementSink, intervalMs: Long,
      clockMs: () => Long = () => System.currentTimeMillis()) {
    private var lastBeat = Long.MinValue

    /** Record the latest positions; beats when the interval elapsed.
      * Returns true if a heartbeat row was written.
      */
    def maybeBeat(p: Positions): Boolean = synchronized {
      val now = clockMs()
      if (lastBeat != Long.MinValue && now - lastBeat < intervalMs) false
      else {
        sink.execute(replaceStatement(db, tb, serverId, p))
        lastBeat = now
        true
      }
    }
  }
}
