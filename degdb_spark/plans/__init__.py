from degdb_spark.plans.pattern import (
    ArrayOp,
    compile_array_op,
    compile_arrow_op,
    parse_query_json,
)

__all__ = ["ArrayOp", "compile_array_op", "compile_arrow_op", "parse_query_json"]
