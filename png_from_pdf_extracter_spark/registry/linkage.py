"""Driver queries over ``functions/linkage.py`` (record linkage)."""

from png_from_pdf_extracter_spark.functions.linkage import jw_blocked_linkage
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH names AS (
              SELECT DISTINCT lower(trim(p_name)) AS nm FROM part
              WHERE length(lower(trim(p_name))) > 0
            ),
            blocked AS (
              SELECT nm, substring(nm, 1, 2) AS bk, length(nm) AS ln
              FROM names
            ),
            kept AS (
              SELECT b.* FROM blocked b
              JOIN (SELECT bk FROM blocked GROUP BY bk
                    HAVING count(*) <= 500) g USING (bk)
            )
            SELECT a.nm AS name_a, b.nm AS name_b,
                   round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
            FROM kept a JOIN kept b ON a.bk = b.bk AND a.nm < b.nm
              AND abs(a.ln - b.ln) <= 2
            WHERE round(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.85
        """)
def _q_jaro_linkage(spark, sf_dir):
    """Blocked Jaro-Winkler record linkage over the distinct part-name
    vocabulary (functions/linkage.py jw_blocked_linkage): block on the
    2-char prefix + length band, score survivors with the Arrow-batched
    JW scorer (pinned value-exact against DuckDB's
    jaro_winkler_similarity), keep pairs >= 0.85. The fuzzy
    generalization of the reference's exact whitelist matching
    (/root/reference/src/services/attachment_service.py)."""

    p = read(spark, sf_dir, "part")
    return jw_blocked_linkage(
        p, "p_name", threshold=0.85, block_chars=2, max_len_diff=2
    )
