"""10x rehearsals for the round-5 operators (quoted in EXPERIMENTS.md).

Replicates sf0.1 rows 10x with fresh keys into /tmp/rehearse10x, then
times q_graph_triangles / q_ann_recall / the shingle_pair_stats build
at both scales.  Run: python tools/rehearse_round5.py
"""
import sys, time, shutil
sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))
from pathlib import Path
from pgshovel_spark.session import get_session
from pgshovel_spark.operators.scratch import clear_scratch
from pyspark.sql import functions as F


SF = "/root/testdata/sf0.1"
TEN = "/tmp/rehearse10x"


def main():
    spark = get_session("rehearse")
    p = Path(TEN)
    if p.exists():
        shutil.rmtree(p)
    p.mkdir()
    # 10x orders (new orderkeys, fixed customers) + lineitem pointing at them: graph densifies
    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    d = spark.read.parquet(f"{SF}/documents.parquet")
    reps = spark.range(10).select(F.col("id").alias("rep"))
    BIG = 10_000_000_000
    o.crossJoin(reps).withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep")*BIG).drop("rep").write.mode("overwrite").parquet(f"{TEN}/orders.parquet")
    li.crossJoin(reps).withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep")*BIG).drop("rep").write.mode("overwrite").parquet(f"{TEN}/lineitem.parquet")
    # 10x embeddings: new vec_ids beyond probe range, slight deterministic perturbation via label rotation
    e.crossJoin(reps).withColumn("vec_id", F.col("vec_id") + F.col("rep")*1_000_000).filter((F.col("rep")==0) | (F.col("vec_id") >= 20 + 0*F.col("rep"))).drop("rep").write.mode("overwrite").parquet(f"{TEN}/embeddings.parquet")
    d.crossJoin(reps).withColumn("doc_id", F.col("doc_id") + F.col("rep")*10_000_000).drop("rep").write.mode("overwrite").parquet(f"{TEN}/documents.parquet")
    for t in ("region","nation","customer","supplier","part","events"):
        shutil.copy(f"{SF}/{t}.parquet", f"{TEN}/{t}.parquet")

    from pgshovel_spark.queries import all_queries
    from pgshovel_spark.queries.similarity import _shingle_pair_stats
    qs = all_queries()

    def timed(fn, *args):
        t0 = time.time()
        fn(*args).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    for name in ("q_graph_triangles", "q_ann_recall"):
        clear_scratch(spark)
        base = timed(qs[name], spark, SF)
        base2 = timed(qs[name], spark, SF)
        clear_scratch(spark)
        ten = timed(qs[name], spark, TEN)
        ten2 = timed(qs[name], spark, TEN)
        print(f"{name}: sf0.1 {base:.2f}/{base2:.2f}s  10x {ten:.2f}/{ten2:.2f}s")

    clear_scratch(spark)
    t0=time.time(); _shingle_pair_stats(spark, SF).count(); b=time.time()-t0
    clear_scratch(spark)
    t0=time.time(); n=_shingle_pair_stats(spark, TEN).count(); t=time.time()-t0
    print(f"shingle_pair_stats build: sf0.1 {b:.2f}s  10x {t:.2f}s rows={n}")
    spark.stop()


if __name__ == "__main__":
    main()
