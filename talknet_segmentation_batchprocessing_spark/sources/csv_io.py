"""S8/S9: CSV source & sink with the reference's AVA shapes.

The reference loads AVA CSVs through pandas with ``usecols`` column
pruning (utils/get_ava_active_speaker_performance.py:70-86) and writes
a predictions CSV after injecting ``score``/``label`` and dropping
``label_id``/``instance_id`` (talkNet.py:107-115). Spark's CSV reader
prunes columns via Catalyst automatically once a select is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import AVA_GROUNDTRUTH

AVA_EVAL_COLUMNS = (  # the reference's usecols subset (script:81)
    "video_id",
    "frame_timestamp",
    "entity_box_x1",
    "entity_box_y1",
    "entity_box_x2",
    "entity_box_y2",
    "label",
    "entity_id",
)


def read_ava_csv(spark: SparkSession, path: str) -> DataFrame:
    """S8: AVA annotation CSV (with header) under an explicit schema,
    pruned to the reference's ``usecols``."""
    df = spark.read.csv(path, header=True, schema=AVA_GROUNDTRUTH)
    return df.select(*AVA_EVAL_COLUMNS)


def write_predictions_csv(predictions: DataFrame, path: str) -> None:
    """S9: predictions CSV — inject constant ``label``, keep ``score``,
    drop training-only columns (talkNet.py:112-114)."""
    out = predictions.withColumn("label", F.lit("SPEAKING_AUDIBLE"))
    out = out.drop("label_id", "instance_id")
    out.write.mode("overwrite").option("header", True).csv(path)


def read_trial_list(spark: SparkSession, path: str) -> DataFrame:
    """Training trial TSV (dataLoader.py:94-108): ``name frames fps
    "[0,1,...]"`` — the label string parses via X11 ``from_json``."""
    from ..schemas import TRIALS

    df = spark.read.csv(path, sep="\t", schema=TRIALS)
    return df.withColumn("label_array", F.from_json("labels", "array<int>"))


def read_talkset_list(spark: SparkSession, path: str) -> DataFrame:
    """TalkSet 9-field space-separated list (TalkSet/README.md:32-46)."""
    from ..schemas import TALKSET_LIST

    return spark.read.csv(path, sep=" ", schema=TALKSET_LIST)
