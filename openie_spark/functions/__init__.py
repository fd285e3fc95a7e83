from openie_spark.functions.arrays import (  # noqa: F401
    words_of,
    segment_words,
    rule_pred_tags,
    seqie_spans,
    tag2span_spans,
    pred_string,
    arg_string,
    args_array,
)
