"""Corpus-curation job entry for spark-submit (the ops twin of
``submit_job.py``, which covers extraction).

Cluster usage::

    zip -r dragnet_spark.zip dragnet_spark
    spark-submit --py-files dragnet_spark.zip \\
        scripts/curate_job.py <docs_parquet> <output_base> \\
        [dedup_threshold] [max_dup10] [text_col]

Reads a ``(doc_id, text, ...)`` table, runs
``operators.curation.curate_corpus`` (Gopher quality + repetition
gates -> MinHash near-dup cluster assignment -> canonical-only), and
writes::

    <output_base>/curated/    the kept rows (input columns preserved)
    <output_base>/verdicts/   one row per input doc: the full
                              drop-reason audit trail

then prints the funnel summary as one JSON line::

    {"in": 507, "gates_pass": 377, "kept": 362, "converged": true}

and exits non-zero when ``converged`` is false: the near-dup cluster
labels did not settle within the components round bound, so the
``cluster_id``/``kept`` verdicts are not to be trusted.  Thresholds are
CLI parameters because corpus statistics move them (see the funnel
query's note on synthetic-vocabulary dup-10-gram rates).
"""

import json
import sys

from pyspark.sql import SparkSession


def main(inp, out_base, dedup_threshold='0.9', max_dup10='0.10',
         text_col='text'):
    spark = SparkSession.builder.appName('dragnet-curate').getOrCreate()
    # dragnet_spark arrives via --py-files; import AFTER session start
    import pyspark.sql.functions as F
    from dragnet_spark.operators.curation import curate_corpus

    docs = spark.read.parquet(inp)
    curated, verdicts = curate_corpus(
        docs, text_col=text_col,
        dedup_threshold=float(dedup_threshold),
        max_dup10=float(max_dup10))
    curated.write.mode('overwrite').parquet('%s/curated' % out_base)
    verdicts.write.mode('overwrite').parquet('%s/verdicts' % out_base)
    v = spark.read.parquet('%s/verdicts' % out_base)
    agg = v.agg(
        F.count('*').alias('n_in'),
        F.sum(((F.col('passes_quality') == 1)
               & (F.col('passes_repetition') == 1)).cast('long'))
        .alias('n_gates'),
        F.sum('kept').alias('n_kept'),
        # gate-dropped docs carry a null flag: they never reached dedup
        F.sum((F.col('converged') == F.lit(False)).cast('long'))
        .alias('n_unconverged')).collect()[0]
    converged = not agg['n_unconverged']
    print(json.dumps({'in': agg['n_in'], 'gates_pass': agg['n_gates'] or 0,
                      'kept': agg['n_kept'] or 0, 'converged': converged}))
    spark.stop()
    return 0 if converged else 1


if __name__ == '__main__':
    sys.exit(main(*sys.argv[1:]))
