"""The session's streaming checkpoint file manager: the class the session
names must exist in this Spark build and must be the one the checkpoint
factory hands out, so a Spark upgrade that moves it (it changed packages
in 4.x) fails here by name instead of failing every standing query at
start."""

from __future__ import annotations

import json
import os

from jetstream_spark.session import CHECKPOINT_FILE_MANAGER


def test_checkpoint_file_manager_loads_and_writes_the_logs(spark, tmp_path):
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    jvm = spark._jvm
    assert jvm.java.lang.Class.forName(CHECKPOINT_FILE_MANAGER).getName() == CHECKPOINT_FILE_MANAGER
    factory = getattr(jvm, "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager")
    manager = factory.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "probe")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.json").write_text(json.dumps({"n": 1}) + "\n")
    ckpt = tmp_path / "ckpt"
    q = (
        spark.readStream.schema("n bigint")
        .json(str(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    assert os.path.isfile(ckpt / "offsets" / "0")
    assert os.path.isfile(ckpt / "commits" / "0")
