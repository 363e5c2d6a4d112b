"""PySpark-native analytics engine with the query/data-processing
capabilities of ``kumarsaurabh20/Omics_data_integration_utilities``.

Not a port: the reference (pandas/R, see ``/root/repo/SURVEY.md``) tells us
WHAT to compute; this package re-expresses those semantics with the Spark
DataFrame/SQL API so Catalyst + Tungsten pick the physical strategy, and the
engine scales by partition parallelism instead of ``multiprocessing.Pool``.

Layout
------
- ``session``    : SparkSession factory tuned for local testing / cluster scale
- ``sources``    : schema-declared readers (CSV, TSV-with-comments, Parquet)
                   and sinks; testdata table registry
- ``functions``  : scalar column expressions (ppm windows, ;-set codecs,
                   key concat, rounding family)
- ``operators``  : relational operator library (band join, adduct expansion,
                   MAD / remove-zeros / outlier filters, deterministic dedup,
                   correlation aggregates, rank windows, set ops, dedup at
                   scale: exact / minhash-LSH / simhash / n-gram jaccard,
                   similarity search, text analysis)
- ``plans``      : end-to-end pipelines mirroring the reference entry points
                   (mass annotation, multi-omics correlation, transition match)
- ``analytics``  : DriverNet / MethylMix-style per-group statistical kernels
- ``streaming``  : event-time windows and joins over the events table,
                   and the bucketed snapshot commits
"""

__version__ = "0.3.0"

from .session import get_spark  # noqa: F401
