package graft.parse

import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Form4Transaction

/** Spark-native port of the reference's `F4Parser`
  * (`secedgar/parser.py:245-339`): extract non-derivative transactions from
  * Form 4 XML documents.
  *
  * Two modes:
  *   - '''parity''': the reference's 10 independent regex streams zipped
  *     positionally (`parser.py:277-333`) — including its silent truncation
  *     on asymmetric documents (zip stops at the shortest stream). Kept for
  *     result-parity tests.
  *   - '''relational''' ([[transactionsFromXml]]): `from_xml` on the real
  *     XML structure — the correct-by-construction mode, and the one that
  *     stays inside Catalyst (schema pruning, codegen) at scale.
  */
object F4Parser {

  final class FilingTypeError(msg: String = "Filing type not supported")
    extends RuntimeException(msg)

  // Patterns 1:1 with `parser.py:10-25`.
  private val valueP = "(?s)<value>(.*?)</value>".r
  private def tag(t: String): Regex = s"(?s)<$t>(.*?)</$t>".r

  private def nestedFindall(parent: Regex, doc: String): Seq[String] =
    parent.findAllMatchIn(doc)
      .map(m => valueP.findFirstMatchIn(m.group(1)).map(_.group(1)).orNull)
      .toSeq

  private def findall(parent: Regex, doc: String): Seq[String] =
    parent.findAllMatchIn(doc).map(_.group(1)).toSeq

  /** Parity-mode `process` (`parser.py:254-339`): dispatches on the
    * document's `<TYPE>` being exactly "4", else FilingTypeError.
    */
  def process(doc: String): Seq[Form4Transaction] = {
    val (docType, _, _) = MetaParser.processDocumentMetadata(doc)
    if (docType != "4") throw new FilingTypeError()
    transactionsParity(doc)
  }

  /** The 10 regex streams + positional zip (`parser.py:277-333`). */
  def transactionsParity(doc: String): Seq[Form4Transaction] = {
    val titles = nestedFindall(tag("securityTitle"), doc)
    val dates = nestedFindall(tag("transactionDate"), doc)
    val shares = nestedFindall(tag("transactionShares"), doc)
    val pps = nestedFindall(tag("transactionPricePerShare"), doc)
    val dispCodes = nestedFindall(tag("transactionAcquiredDisposedCode"), doc)
    val soft = nestedFindall(tag("sharesOwnedFollowingTransaction"), doc)
    val doio = nestedFindall(tag("directOrIndirectOwnership"), doc)
    val formTypes = findall(tag("transactionFormType"), doc)
    val codes = findall(tag("transactionCode"), doc)
    val swaps = findall(tag("equitySwapInvolved"), doc)
    // zip semantics: truncate to the shortest stream (`parser.py:322-333`)
    val n = Seq(titles, dates, formTypes, codes, swaps, shares, pps,
      dispCodes, soft, doio).map(_.size).min
    (0 until n).map { i =>
      Form4Transaction(titles(i), dates(i), formTypes(i), codes(i), swaps(i),
        shares(i), pps(i), dispCodes(i), soft(i), doio(i))
    }
  }

  /** Parity-mode UDF: array<struct> in the reference's nested shape
    * (`parser.py:289-336`, schema [[Form4Transaction.schema]]).
    */
  def registerUdfs(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("f4_transactions", (doc: String) =>
      transactionsParity(doc).map { t =>
        org.apache.spark.sql.Row(t.securityTitle, t.transactionDate,
          org.apache.spark.sql.Row(t.transactionFormType, t.transactionCode,
            t.equitySwapInvolved),
          org.apache.spark.sql.Row(t.transactionShares,
            t.transactionPricePerShare, t.transactionAcquiredDisposedCode),
          org.apache.spark.sql.Row(t.sharesOwnedFollowingTransaction),
          org.apache.spark.sql.Row(t.directOrIndirectOwnership))
      },
      ArrayType(Form4Transaction.schema))
    ()
  }

  /** Relational-mode schema for `from_xml` over `<ownershipDocument>`. */
  private def valueOf(dt: DataType): StructType =
    StructType(Seq(StructField("value", dt)))

  private val transactionType: StructType = StructType(Seq(
    StructField("securityTitle", valueOf(StringType)),
    StructField("transactionDate", valueOf(StringType)),
    StructField("transactionCoding", StructType(Seq(
      StructField("transactionFormType", StringType),
      StructField("transactionCode", StringType),
      StructField("equitySwapInvolved", StringType)))),
    StructField("transactionAmounts", StructType(Seq(
      StructField("transactionShares", valueOf(DecimalType(18, 4))),
      StructField("transactionPricePerShare", valueOf(DecimalType(18, 4))),
      StructField("transactionAcquiredDisposedCode", valueOf(StringType))))),
    StructField("postTransactionAmounts", StructType(Seq(
      StructField("sharesOwnedFollowingTransaction", valueOf(DecimalType(18, 4)))))),
    StructField("ownershipNature", StructType(Seq(
      StructField("directOrIndirectOwnership", valueOf(StringType)))))))

  val ownershipDocumentSchema: StructType = StructType(Seq(
    StructField("nonDerivativeTable", StructType(Seq(
      StructField("nonDerivativeTransaction", ArrayType(transactionType)))))))

  /** Relational mode: parse the `<ownershipDocument>` XML body of a Form 4
    * and explode its transactions, typed (dates/decimals) where the
    * reference kept strings. Avoids the positional-zip fragility entirely.
    */
  def transactionsFromXml(df: DataFrame, xmlCol: String): DataFrame =
    df.withColumn("__d", from_xml(
        regexp_extract(col(xmlCol),
          "(?s)(<ownershipDocument>.*</ownershipDocument>)", 1),
        ownershipDocumentSchema))
      .withColumn("t",
        explode(col("__d.nonDerivativeTable.nonDerivativeTransaction")))
      .select(
        col("t.securityTitle.value").as("security_title"),
        to_date(col("t.transactionDate.value"), "yyyy-MM-dd")
          .as("transaction_date"),
        col("t.transactionCoding.transactionFormType").as("transaction_form_type"),
        col("t.transactionCoding.transactionCode").as("transaction_code"),
        col("t.transactionCoding.equitySwapInvolved").as("equity_swap_involved"),
        col("t.transactionAmounts.transactionShares.value")
          .as("transaction_shares"),
        col("t.transactionAmounts.transactionPricePerShare.value")
          .as("transaction_price_per_share"),
        col("t.transactionAmounts.transactionAcquiredDisposedCode.value")
          .as("transaction_acquired_disposed_code"),
        col("t.postTransactionAmounts.sharesOwnedFollowingTransaction.value")
          .as("shares_owned_following_transaction"),
        col("t.ownershipNature.directOrIndirectOwnership.value")
          .as("direct_or_indirect_ownership"))
}
