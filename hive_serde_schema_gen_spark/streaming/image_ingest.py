"""Image edition of :mod:`.media_ingest` (the IMAGE family), kept as an
import path."""

from functools import partial

from ..operators.phash_index import IMAGE
from .media_ingest import (
    process_media_ingest_batch,
    read_ingested_media,
    start_media_ingest,
)

process_image_ingest_batch = partial(process_media_ingest_batch, family=IMAGE)
start_image_ingest = partial(start_media_ingest, family=IMAGE)
read_ingested_images = read_ingested_media
