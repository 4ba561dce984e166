from degdb_spark.plans.pattern import (
    ArrayOp,
    compile_array_op,
    eval_op,
    parse_query_json,
)

__all__ = ["ArrayOp", "compile_array_op", "eval_op", "parse_query_json"]
