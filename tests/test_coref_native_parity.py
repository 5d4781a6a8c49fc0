"""The native (zero-Python) coref must equal the applyInPandas reference
implementation row-for-row on the seeded corpus incl. the hot conversation."""

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, coref, fused
from docopenie_spark.plans.pipeline import default_dictionaries


def _mentions(spark, n_turns):
    """The production mention source: the fused pass's entity view."""
    t = datagen.transcripts_df(spark, n_turns)
    fn, gz, ln = default_dictionaries()
    ann = fused.parse_extract_annotate(assembly.with_turn_offsets(t), fn, gz, ln)
    return fused.split_entities(ann).cache()


def test_native_clusters_equal_python(spark):
    mentions = _mentions(spark, 400)
    a = coref.clusters(mentions)
    b = coref.clusters_python(mentions)
    assert a.exceptAll(b).isEmpty(), "native ⊄ python"
    assert b.exceptAll(a).isEmpty(), "python ⊄ native"
    assert a.count() > 0


def test_segmented_hot_path_equals_python(spark):
    """VERDICT r2 #4: with the hot threshold forced to 1, EVERY
    conversation takes the segmented-scan path — output must still equal
    the python reference exactly (and the plain path)."""
    mentions = _mentions(spark, 400)
    seg = coref.clusters(mentions, hot_threshold=1)
    py = coref.clusters_python(mentions)
    assert seg.exceptAll(py).isEmpty(), "segmented ⊄ python"
    assert py.exceptAll(seg).isEmpty(), "python ⊄ segmented"
    plain = coref.clusters(mentions, hot_threshold=None)
    assert seg.exceptAll(plain).isEmpty() and plain.exceptAll(seg).isEmpty()
    assert seg.count() > 0
