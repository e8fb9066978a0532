"""TSV export round-trip."""

import tempfile

from dirt_hadoop_similarity_spark.sources import sinks


def test_tsv_roundtrip(spark):
    df = spark.createDataFrame(
        [("N:<nsubj:V:caus:>dobj:N", "N:<nsubj:V:lead:>prep:P:to:>pobj:N", 0.774),
         ("a", "b", 0.0)],
        ["p1", "p2", "score"],
    )
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/sims_tsv"
        sinks.write_tsv(df, path, coalesce=1)
        back = spark.read.csv(
            path, schema="p1 STRING, p2 STRING, score DOUBLE", sep="\t"
        )
        got = {(r.p1, r.p2): r.score for r in back.collect()}
    assert got == {(r.p1, r.p2): r.score for r in df.collect()}
