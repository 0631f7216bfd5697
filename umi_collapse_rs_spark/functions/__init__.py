from umi_collapse_rs_spark.functions.normalize import normalize_text_col, text_sha_col  # noqa: F401
