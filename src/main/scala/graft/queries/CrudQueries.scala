package graft.queries

import graft.operators._
import QueryDef._

/** The CRUD surface (SURVEY.md §2.4): insert, delete, update, upsert,
  * point lookup and snapshot diff.
  */
object CrudQueries {
  val all: Seq[QueryDef] = Seq(
    QueryDef("crud_insert", (s, d) => Crud.insert(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       CAST(floor(CAST(embedding[1] AS DOUBLE)*1000000.0) AS BIGINT) AS dim0_micro
        |FROM embeddings
        |UNION ALL
        |SELECT CAST(i+100000 AS BIGINT), CAST(i%10 AS BIGINT), 64,
        |       CAST(floor(CAST(CAST(CAST((i*31)%97 AS DOUBLE)/97.0 AS FLOAT) AS DOUBLE)*1000000.0) AS BIGINT)
        |FROM range(100) t(i)
        |ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_delete_last_n", (s, d) => Crud.deleteLastN(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM embeddings ORDER BY vec_id DESC LIMIT 100)
        |ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_delete_pred", (s, d) => Crud.deleteByPredicate(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |WHERE vec_id % 7 <> 3 ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_delete_seeded", (s, d) => Crud.deleteSeeded(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |WHERE ((vec_id * 2654435761 + 42) % 1000000007) % 100 >= 10 ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_update", (s, d) => Crud.update(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |       CAST(CASE WHEN vec_id % 7 = 3 THEN label + 100 ELSE label END AS BIGINT) AS label
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_update_positional", (s, d) => Crud.updatePositional(s, d), sql(
      """WITH mx AS (SELECT max(vec_id) AS max_id FROM embeddings),
        |v AS (SELECT label, row_number() OVER (ORDER BY vec_id) AS rn
        |      FROM embeddings WHERE vec_id % 7 = 3)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(0 AS BIGINT) AS reassigned
        |FROM embeddings WHERE vec_id % 7 <> 3
        |UNION ALL
        |SELECT CAST(max_id + rn AS BIGINT), CAST(label + 100 AS BIGINT), CAST(1 AS BIGINT)
        |FROM v CROSS JOIN mx
        |ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_upsert", (s, d) => Crud.upsert(s, d), sql(
      """SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |       CAST(CASE WHEN vec_id < 50 THEN label + 1000 ELSE label END AS BIGINT) AS label
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    QueryDef("crud_point_lookup", (s, d) => Crud.pointLookup(s, d), sql(
      "SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label FROM embeddings WHERE vec_id = 42")),
    QueryDef("crud_counts", (s, d) => Crud.counts(s, d), sql(
      """SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
        |FROM embeddings GROUP BY ROLLUP(label) ORDER BY label NULLS FIRST""".stripMargin)),
    // Snapshot diff: the engine compares xxhash64, the oracle md5 — hashes
    // never cross engines, only the derived status does.
    QueryDef("snapshot_diff", (s, d) => Crud.snapshotDiff(s, d), sql(
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
        |      FROM documents WHERE doc_id % 17 <> 3)
        |SELECT CAST(COALESCE(o.doc_id, n.doc_id) AS BIGINT) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.h <> n.h THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
        |ORDER BY doc_id""".stripMargin)),
  )
}
