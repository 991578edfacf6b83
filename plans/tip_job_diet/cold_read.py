"""Time the first (cold) and second read_published of a many-file table.
usage: cold_read.py <root> <store> [make N]"""
import json, os, sys, time
root, store = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
from chainweb_data_spark.session import get_spark
from chainweb_data_spark.streaming import publish as pub

spark = get_spark("coldread", shuffle_partitions=8)
if len(sys.argv) > 3:
    n = int(sys.argv[4])
    import shutil
    shutil.rmtree(store, ignore_errors=True)
    pub.ensure_manifest(store)
    tdir = os.path.join(store, "t.parquet")
    spark.range(n * 10).selectExpr("id", "cast(id as string) s").repartition(n).write.parquet(tdir)
    files = sorted(f for f in os.listdir(tdir) if f.endswith(".parquet"))
    pub._commit_delta(store, 2, {"t": files}, {}, {})
    print("made", len(files))
    sys.exit(0)
spark.range(1).count()
out = {}
for k in ("cold", "warm", "warm2"):
    t = time.perf_counter()
    df = pub.read_published(spark, store, "t")
    out[k] = round(time.perf_counter() - t, 3)
out["rows"] = df.count()
print(json.dumps(out))
