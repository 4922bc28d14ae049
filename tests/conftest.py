import pytest

from spacy_ann_linker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def golden_model(spark):
    from spacy_ann_linker_spark.pipeline import build_golden_model

    return build_golden_model(spark)


def gazetteer_mentions(turns, patterns, label=None):
    """Gazetteer mentions of a pattern list in `turns`: the patterns become
    the alias table, one row each."""
    from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer

    aliases = turns.sparkSession.createDataFrame([(p,) for p in patterns], "alias string")
    return extract_mentions_gazetteer(turns, aliases, label=label)
