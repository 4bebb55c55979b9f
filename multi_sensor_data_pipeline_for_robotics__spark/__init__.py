"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference multi-sensor robotics pipeline
(``/root/reference/app.py``), rebuilt Spark-first.

The reference is a single-process pandas/Streamlit app; this package
re-expresses its semantics — multi-rate sensor fusion: ingest → clean →
time-align (as-of resample) → event one-hot mapping → correlate/summarize
→ export — as lazy, distributed DataFrame transformations designed for a
multi-executor cluster at 100 TB scale, plus the LLM-training-data
operators (dedup, similarity search, text analysis, multimodal plumbing)
a large-scale pipeline needs.

Layout:
    session     SparkSession factory (AQE, UTC, Arrow, sane shuffle width)
    sources/    table loaders, synthetic generators, CSV/parquet IO
    operators/  cleaning, temporal sync (as-of join), dedup, similarity
    functions/  column-level expression helpers (text, vectors)
    plans/      analytics query plans (corr, summaries, TPC-H-ish)
    streaming/  Structured Streaming surface of the sync pipeline
"""

import sys

from pyspark import cloudpickle

from multi_sensor_data_pipeline_for_robotics__spark.session import get_session

# Functions shipped to Python workers (pandas UDFs, stateful-stream
# state functions, mapInPandas kernels) are pickled with their code, not
# by import path, so a worker that cannot import this package (a driver
# run outside the repo root, a cluster without the package installed)
# still runs them. Registering the package covers all its submodules.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_session"]
__version__ = "0.1.0"
