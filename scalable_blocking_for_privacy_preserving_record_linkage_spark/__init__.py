"""PySpark-native privacy-preserving record-linkage (PPRL) engine.

From-scratch re-expression of the pipeline semantics of
apostolistselios/scalable-blocking-for-privacy-preserving-record-linkage
(reference at /root/reference, Java + Spark 2.4) as an idiomatic Spark
DataFrame/Catalyst application: reference-set blocking, Bloom-filter (CLK)
encoding, sorted-neighborhood candidate generation, Dice-coefficient
matching, transitive clustering — plus the web-scale extensions the
north star requires (block purging, checkpoint/resume,
dedup / similarity / text-analysis operators for training-data pipelines).
"""

from .config import PPRLConfig, DEFAULT_CONFIG  # noqa: F401
