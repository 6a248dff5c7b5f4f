"""Spark-side operators: the extraction pipeline, renditions, navigation,
dedup, similarity and text-analysis stages. Thin wrappers that bind the
pure kernels into mapInArrow / mapInPandas / pandas UDF stages plus purely relational
DataFrame implementations where the semantics allow (the fast JVM path).
"""
