package graft.functions

import graft.core.Extractor.DefaultTimeoutSeconds
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar (whole-stage-codegen'd) variants of the kernel's scalar
  * semantics, for use directly in DataFrame plans — the "column variant"
  * called out in SURVEY.md §2 (O4, O9, O14, O15). These compose from
  * built-in `org.apache.spark.sql.functions` only: no UDFs, so Catalyst can
  * push, prune and fold around them.
  */
object GraftFunctions {

  /** O4 column variant of `detectFileType` (`ocr_util.go:114-132`) over a
    * STRING payload (magic chars, including the embedded NUL of the TIFF
    * magics).
    */
  def sniffType(payload: Column): Column = {
    val nul = expr("char(0)")
    when(length(payload) > 3 && substring(payload, 1, 4) === lit("%PDF"), lit("PDF"))
      .when(length(payload) > 3 &&
        (substring(payload, 1, 4) === concat(lit("II*"), nul) ||
          substring(payload, 1, 4) === concat(lit("MM"), nul, lit("*"))), lit("TIFF"))
      .otherwise(lit("UNKNOWN"))
  }

  /** O9 column variant of the lenient engine decode (`ocr_engine.go:50-68`):
    * case-insensitive match, unknown strings -> mock.
    */
  def resolveEngine(engineStr: Column): Column = {
    val u = upper(engineStr)
    when(u === "TESSERACT", "tesseract")
      .when(u === "GO_TESSERACT", "go_tesseract")
      .when(u === "SANDWICH", "sandwich")
      .when(u === "MOCK", "mock")
      .otherwise("mock")
  }

  /** O14 column variant of priority assignment
    * (`ocr_rpc_client.go:74-85`): absent doc_type -> 1, known -> configured,
    * unknown -> the "standard" class.
    */
  def priorityFor(docType: Column, prioMap: Map[String, Int]): Column = {
    val standard = prioMap.getOrElse("standard", 1)
    val known = prioMap.foldLeft(when(docType === "", 1)) { case (acc, (k, v)) =>
      acc.when(docType === k, v)
    }
    known.otherwise(standard).cast("int")
  }

  /** O15 column variant of the timeout clamp (`ocr_rpc_client.go:87-89`). */
  def clampTimeout(timeOut: Column): Column =
    when(timeOut >= DefaultTimeoutSeconds || timeOut <= 0, DefaultTimeoutSeconds)
      .otherwise(timeOut).cast("long")

  /** O21 column variant of the admission gate
    * (`ocr_res_manager.go:98-120`, threshold `ocr_res_manager.go:23`):
    * accept iff queued < consumers × factor AND
    * memUsed < (memLimit × 95) / 100 with TRUNCATING integer division,
    * matching the reference's Go int64 math exactly (`ocr_res_manager.go:108`).
    * `floor` over the double quotient is exact for any memLimit < 2^53/95.
    */
  def admissionAccept(
      queued: Column, consumers: Column, factor: Column,
      memUsed: Column, memLimit: Column): Column =
    (queued < consumers * factor) &&
      (memUsed < floor(memLimit * lit(95L) / lit(100L)))
}
