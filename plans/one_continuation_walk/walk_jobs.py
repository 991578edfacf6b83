"""Spark jobs and rows of the continuation walk in its two SQL input
forms: temp views (what ``continuation_histories`` does) and ``spark.sql``
DataFrame arguments.  Three rounds, the cache cleared after each call.
Usage: python walk_jobs.py <checkout root>"""
import sys
import time

sys.path.insert(0, sys.argv[1])

from chainweb_data_spark.queries import chainweb as cw  # noqa: E402
from chainweb_data_spark.schemas.chainweb import CONTINUATION_MAX_DEPTH  # noqa: E402
from chainweb_data_spark.session import get_spark  # noqa: E402

ARG_FORM_SQL = f"""
    WITH RECURSIVE
    starts AS (SELECT DISTINCT requestkey AS start_rk, pactid
               FROM {{tx}} WHERE pactid IS NOT NULL),
    walk AS (
      SELECT s.start_rk, 0 AS depth, d.requestkey AS rk, d.pactid, d.code
      FROM starts s JOIN {{dtx}} d ON d.requestkey = s.pactid
      UNION ALL
      SELECT w.start_rk, w.depth + 1, d.requestkey, d.pactid, d.code
      FROM walk w JOIN {{dtx}} d ON d.requestkey = w.pactid
      WHERE w.depth + 1 < {CONTINUATION_MAX_DEPTH}
    ),
    dwalk AS (SELECT DISTINCT start_rk, depth, rk, code FROM walk)
    SELECT start_rk,
           max(CASE WHEN code IS NOT NULL THEN code END) AS initial_code,
           COUNT(*) AS n_steps,
           array_join(
             transform(array_sort(collect_list(struct(depth, rk))),
                       s -> s.rk), ',') AS steps_csv
    FROM dwalk GROUP BY start_rk
"""

spark = get_spark("walk-jobs", extra_conf={"spark.ui.showConsoleProgress": "false"})
sc = spark.sparkContext


def arg_form(tx):
    dtx = tx.select("requestkey", "pactid", "code").distinct().cache()
    return spark.sql(ARG_FORM_SQL, tx=tx, dtx=dtx)


def measure(group, build):
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    rows = build().collect()
    dt = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    time.sleep(0.5)  # let the listener bus catch up
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"rows": len(rows), "jobs": jobs, "s": round(dt, 3)}, sorted(map(tuple, rows))


print("cteRecursionRowLimit", spark.conf.get("spark.sql.cteRecursionRowLimit"))
for r in range(3):
    tx = cw._cw(spark, "transactions")
    views, a = measure(f"views-{r}", lambda: cw.continuation_histories(tx))
    args, b = measure(f"args-{r}", lambda: arg_form(tx))
    print(r, "temp views", views, "dataframe args", args, "same rows", a == b, flush=True)
spark.stop()
