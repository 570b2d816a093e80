package graft.model

import java.sql.Date

import org.apache.spark.sql.types._

/** Core record shapes of the engine (SURVEY.md §1.1, D1-D5).
  *
  * The reference keeps everything as Python strings inside namedtuples /
  * dicts (`secedgar/core/_index.py:155-158`, `secedgar/parser.py:28-339`).
  * Here each shape is a typed case class with an explicit `StructType`, so
  * Catalyst can prune/push down and Tungsten can work on columnar data.
  * `cik` stays a string on purpose — leading zeros are significant
  * (`secedgar/core/rest.py:71,116,153` zero-fills to 10 digits).
  */

/** One row of an EDGAR master index (D1, `_index.py:155-158`).
  *
  * `dateFiled` is promoted from the reference's 'YYYY-MM-DD' string to a
  * real DateType; `numPreviouslyValid` is the running count of kept rows
  * (`_index.py:160,169,173`) and is only meaningful after the entry filter.
  */
case class FilingEntry(
    cik: String,
    companyName: String,
    formType: String,
    dateFiled: Date,
    fileName: String,
    path: String,
    numPreviouslyValid: Long)

object FilingEntry {
  val schema: StructType = StructType(Seq(
    StructField("cik", StringType),
    StructField("company_name", StringType),
    StructField("form_type", StringType),
    StructField("date_filed", DateType),
    StructField("file_name", StringType),
    StructField("path", StringType),
    StructField("num_previously_valid", LongType)))
}

/** One embedded `<DOCUMENT>` inside a `<SEC-DOCUMENT>` container
  * (`parser.py:215-242`): the three scalar tags plus the `<TEXT>` payload.
  */
case class EmbeddedDocument(
    docType: String,
    sequence: String,
    filename: String,
    text: String)

/** Output row of the SEC-DOCUMENT splitter (`parser.py:44-138`): one
  * `<SEC-DOCUMENT>` block exploded from a filing container file. The
  * metadata dict has data-dependent keys (`parser.py:150-213`), so it maps
  * to MapType, not StructType:
  *   - `flat`   — top-level `KEY:\tVALUE` pairs,
  *   - `nested` — `header -> (key -> value)` for tab-indented level-1 data,
  *   - `nested2`— `header -> subheader -> (key -> value)` for level-2 data.
  */
case class SecDocument(
    path: String,
    secDocNum: Int,
    flat: Map[String, String],
    nested: Map[String, Map[String, String]],
    nested2: Map[String, Map[String, Map[String, String]]],
    documents: Seq[EmbeddedDocument])

object SecDocument {
  val metadataSchema: StructType = StructType(Seq(
    StructField("flat", MapType(StringType, StringType)),
    StructField("nested", MapType(StringType, MapType(StringType, StringType))),
    StructField("nested2",
      MapType(StringType, MapType(StringType, MapType(StringType, StringType))))))
}

/** Form 4 non-derivative transaction (D5, `parser.py:288-336`). The
  * reference keeps every field a string; the typed engine default promotes
  * date and numeric fields, with the string parity form available from
  * [[graft.parse.F4Parser]].
  */
case class Form4Transaction(
    securityTitle: String,
    transactionDate: String,
    transactionFormType: String,
    transactionCode: String,
    equitySwapInvolved: String,
    transactionShares: String,
    transactionPricePerShare: String,
    transactionAcquiredDisposedCode: String,
    sharesOwnedFollowingTransaction: String,
    directOrIndirectOwnership: String)

object Form4Transaction {
  /** Struct parity with the reference's nested dict (`parser.py:289-336`). */
  val schema: StructType = StructType(Seq(
    StructField("securityTitle", StringType),
    StructField("transactionDate", StringType),
    StructField("transactionCoding", StructType(Seq(
      StructField("transactionFormType", StringType),
      StructField("transactionCode", StringType),
      StructField("equitySwapInvolved", StringType)))),
    StructField("transactionAmounts", StructType(Seq(
      StructField("transactionShares", StringType),
      StructField("transactionPricePerShare", StringType),
      StructField("transactionAcquiredDisposedCode", StringType)))),
    StructField("postTransactionAmounts", StructType(Seq(
      StructField("sharesOwnedFollowingTransaction", StringType)))),
    StructField("ownershipNature", StructType(Seq(
      StructField("directOrIndirectOwnership", StringType))))))
}
