package graft.queries

import graft.operators._
import QueryDef._

/** The multi-model sweep, ops metrics and catalog surface
  * (SURVEY.md §2.1/§2.11).
  */
object MultiModelQueries {
  val all: Seq[QueryDef] = Seq(
    QueryDef("metrics_combined", (s, d) => MultiModel.combinedMetrics(s, d), sql(
      """WITH b AS (SELECT count(*) AS n_base FROM embeddings),
        |m AS (SELECT * FROM (VALUES ('paraphrase_minilm_l12', 384), ('all_minilm_l6', 384),
        |        ('distilbert_nli_stsb', 768), ('codebert_base', 768), ('bert_base_nli', 768),
        |        ('komninos_word_avg', 300), ('all_mpnet_base', 768)) t(model, dim)),
        |s AS (SELECT * FROM (VALUES (2500), (5000), (7500), (10000), (20000), (30000)) t(op_size)),
        |o AS (SELECT * FROM (VALUES ('insertion'), ('deletion'), ('update'), ('query')) t(op))
        |SELECT model, op, CAST(op_size AS BIGINT) AS op_size,
        |       CAST(CASE op WHEN 'insertion' THEN op_size
        |                    WHEN 'deletion'  THEN n_base
        |                    WHEN 'update'    THEN op_size
        |                    ELSE 5 * op_size END AS BIGINT) AS n_rows,
        |       CAST(dim AS BIGINT) AS dim
        |FROM m CROSS JOIN s CROSS JOIN o CROSS JOIN b
        |ORDER BY model, op, op_size""".stripMargin), cross("7-row model table cross")),
    QueryDef("metrics_ops", (s, d) => OpsMetrics.opsMetrics(s, d),
      noOracle("wall-clock measurements; SweepCatalogSpec checks the deterministic columns")),
    QueryDef("catalog_ops", (s, d) => CatalogOps.catalogQuery(s, d), sql(
      """SELECT 'graft_cat_keep_c' AS store_name, CAST(count(*) AS BIGINT) AS n_rows
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
  )
}
