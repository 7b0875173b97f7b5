"""Training-data pipeline functions: text analysis, dedup, sampling.

Every operator here comes in two lockstep forms:
- a Spark DataFrame implementation (pure ``pyspark.sql.functions`` /
  SQL exprs — whole-stage codegen, no Python on executors), and
- a DuckDB SQL builder producing bit-identical results on the same
  tables, used by the driver's correctness gate and our pytest
  differential suite.

Cross-engine determinism rules used throughout:
- hashes are md5-based (both engines agree on md5), folded to int64
  via the leading 15 hex digits;
- floating-point reductions are sequential left folds in array order
  (Spark ``aggregate``, DuckDB ``list_reduce``) so doubles are
  IEEE-identical across engines;
- exported scores are truncated with floor(x*1e6)/1e6 — no rounding-
  mode ambiguity.
"""
