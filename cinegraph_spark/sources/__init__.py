from cinegraph_spark.sources.text_corpus import read_subtitle_corpus

__all__ = [
    "read_subtitle_corpus",
]
