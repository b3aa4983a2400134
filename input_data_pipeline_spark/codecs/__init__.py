"""Media codecs, one Spark-free module per format family.

Each module holds its family's spec tables, decoder, fixture encoder
and header parser, and imports only the standard library, numpy and
sibling codec modules. ``route`` dispatches a payload to its family by
magic bytes. The Spark side (decode gates, DataFrame operators) lives
in ``input_data_pipeline_spark.operators.multimodal``.
"""
