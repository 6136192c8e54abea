import pytest

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (  # noqa: F401
    docs_df as spans_df,
)


@pytest.fixture(scope="session")
def spark():
    from ebook_conversion_to_text_for_machine_learning_spark.session import build_session

    session = build_session(app_name="engine-tests", master="local[4]", shuffle_partitions=8)
    yield session
    session.stop()
