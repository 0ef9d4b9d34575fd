"""Reference dataflow parity: FB/IG/TT/SC parsers on nested fixtures.

Fixtures mirror the platform export shapes the reference reads
(FIXTURES.md §3); expectations are hand-derived from the reference
semantics (/root/reference/SMParser/smparsers.py).
"""

from datetime import datetime

import pytest
from pyspark.sql import Row

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans import social as S

CFG = ScrubConfig(
    candidate_id="011", first_name="Maggie", last_name="Nail",
    username="Maggie Nail", person_alias="megs, mags",
    months_back=24, last_date=datetime(2022, 3, 24),
)
IN_TS = 1640000000    # 2021-12-20, inside window
OUT_TS = 1500000000   # 2017, outside window


class TestProfileMetadata:
    def test_fb_username(self, spark):
        df = spark.createDataFrame(
            [Row(profile_v2=Row(name=Row(full_name="Maggie Nail")))])
        assert S.fb_username_from_profile(df) == "Maggie Nail"

    def test_ig_username(self, spark):
        df = spark.createDataFrame(
            [Row(profile_user=[Row(string_map_data=Row(
                Username=Row(value="maggie.nail")))])])
        assert S.ig_username_from_profile(df) == "maggie.nail"


class TestCounts:
    def test_fb_friends_counts(self, spark):
        """parse_friends (smparsers.py:26-36): one row, the lengths of
        the friends and removed-friends lists, no date window."""
        friends = spark.createDataFrame(
            [Row(name=n, timestamp=OUT_TS) for n in "abc"])
        removed = spark.createDataFrame([Row(name="d", timestamp=IN_TS)])
        rows = S.fb_friends_counts(friends, removed).collect()
        assert [r.asDict() for r in rows] == [
            {"Total Friends": 3, "Removed Friends": 1}]

    def test_ig_follow_counts(self, spark):
        """parse_follow (smparsers.py:274-284): one row, the lengths of
        the followers and following lists, no date window."""
        followers = spark.createDataFrame(
            [Row(value=n, timestamp=IN_TS) for n in "ab"])
        following = spark.createDataFrame(
            [Row(value=n, timestamp=OUT_TS) for n in "cde"])
        rows = S.ig_follow_counts(followers, following).collect()
        assert [r.asDict() for r in rows] == [
            {"Followers": 2, "Following": 3}]


class TestFBReactions:
    def test_pivot_with_totals(self, spark):
        rows = [
            Row(timestamp=IN_TS, title="X liked your photo",
                data=[Row(reaction=Row(reaction="LIKE", actor="a"))]),
            Row(timestamp=IN_TS, title="X liked your comment on a photo",
                data=[Row(reaction=Row(reaction="LIKE", actor="a"))]),
            Row(timestamp=IN_TS, title="loved a video",
                data=[Row(reaction=Row(reaction="LOVE", actor="b"))]),
            Row(timestamp=OUT_TS, title="old photo",
                data=[Row(reaction=Row(reaction="LIKE", actor="a"))]),
        ]
        out = {r.Type: r for r in
               S.fb_reactions_report(spark.createDataFrame(rows), CFG).collect()}
        assert out["LIKE"].Total == 2
        assert out["LIKE"].photo == 1      # "liked your photo"
        # "comment on a photo": both match; 'comment' is later in the
        # category list → last-match-wins... list order is photo(0),
        # comment(1) → comment wins
        assert out["LIKE"].comment == 1
        assert out["LOVE"].video == 1
        assert "LIKE" in out and len(out) == 2  # out-of-window dropped


class TestFBPosts:
    def _posts(self, spark):
        return spark.createDataFrame([
            Row(id=0, timestamp=IN_TS, title="Maggie posted",
                data=[Row(post="hello from megs")],
                attachments=[Row(data=[
                    Row(media=Row(uri="photos/a.jpg", title="pic title",
                                  description="with Maggie Nail",
                                  comments=[
                                      Row(author="Maggie Nail", comment="mine"),
                                      Row(author="Friend X", comment="nice pic"),
                                  ]),
                        external_context=None),
                    Row(media=Row(uri="photos/b.xyz", title="bad ext",
                                  description=None, comments=None),
                        external_context=None),
                    Row(media=None,
                        external_context=Row(uri="https://ex.example/link")),
                ])]),
            Row(id=1, timestamp=OUT_TS, title="too old", data=None,
                attachments=None),
        ])

    def test_payload_shape(self, spark):
        rows = S.fb_posts_payload(self._posts(spark), CFG).collect()
        kinds = sorted(r.row_kind for r in rows)
        # 1 post row + media row + external row (bad ext skipped); old post dropped
        assert kinds == ["attachment", "attachment", "post"]
        post = [r for r in rows if r.row_kind == "post"][0]
        assert post.Caption == "hello from {{ALIAS}}; {{FIRSTNAME}} posted"
        media = [r for r in rows if r.Location == "photos/a.jpg"][0]
        assert media.Post == "media/FB/Post0/Photo_0_0A.jpg"
        assert media["Subject Comments"] == '"mine"'
        assert media["Friend Comments"] == '"nice pic"'
        assert "{{FIRSTNAME}} {{LASTNAME}}" in media.Caption
        ext = [r for r in rows if r.Location == "External"][0]
        assert ext.Caption == ": https://ex.example/link"

    def test_comment_scrub_is_per_comment(self, spark):
        """The alias bug's count=2 cap applies PER COMMENT (the reference
        calls clean_text on each comment, smparsers.py:121-126): an alias
        appearing twice in each of two comments must be replaced all 4
        times, which a scrub-of-the-joined-string would cap at 2."""
        posts = spark.createDataFrame([
            Row(id=0, timestamp=IN_TS, title=None, data=None,
                attachments=[Row(data=[
                    Row(media=Row(uri="photos/a.jpg", title="t",
                                  description=None,
                                  comments=[
                                      Row(author="Friend X", comment="megs megs"),
                                      Row(author="Friend Y", comment="megs megs"),
                                  ]),
                        external_context=None),
                ])]),
        ], schema=self._posts(spark).schema)
        rows = S.fb_posts_payload(posts, CFG).collect()
        att = [r for r in rows if r.row_kind == "attachment"][0]
        assert att["Friend Comments"] == \
            '"{{ALIAS}} {{ALIAS}}"; "{{ALIAS}} {{ALIAS}}"'

    def test_rem_comments_and_anti_join(self, spark):
        rem = S.fb_rem_comments(self._posts(spark), CFG)
        assert [r.comment for r in rem.collect()] == ["mine"]
        comments = spark.createDataFrame([
            Row(timestamp=IN_TS, attachments="url1",
                data=[Row(comment=Row(comment="mine"))]),       # skipped (J2)
            Row(timestamp=IN_TS, attachments="url2",
                data=[Row(comment=Row(comment="fresh words"))]),
            Row(timestamp=IN_TS, attachments="url3", data=None),  # null → ''
            Row(timestamp=OUT_TS, attachments="url4",
                data=[Row(comment=Row(comment="old"))]),        # window drop
        ])
        rows = sorted(S.fb_comments_payload(comments, rem, CFG).collect(),
                      key=lambda r: r.URL)
        # EXACT row count: a null-comment record must appear once, not
        # twice (regression: anti-join + explicit null-union double-emit)
        assert len(rows) == 2
        assert [r.URL for r in rows] == ["url2", "url3"]
        assert rows[0]["Subject Comments"] == "fresh words"
        assert rows[1]["Subject Comments"] == ""


class TestFBProfileUpdates:
    def _updates(self, spark):
        schema = (
            "id long, timestamp long, title string, "
            "attachments array<struct<data:array<struct<media:struct<"
            "uri:string,title:string,description:string,"
            "comments:array<struct<author:string,comment:string>>>>>>>"
        )
        return spark.createDataFrame([
            Row(id=0, timestamp=IN_TS, title="Maggie updated her profile",
                attachments=[Row(data=[
                    Row(media=Row(uri="photos/prof.jpg", title="m-title",
                                  description="m-desc",
                                  comments=[
                                      Row(author="Maggie Nail", comment="update-only comment"),
                                      Row(author="Friend A", comment="looking good"),
                                      Row(author="Friend B", comment="nice"),
                                  ])),
                    Row(media=Row(uri="photos/bad.xyz", title=None,
                                  description=None, comments=None)),
                ])]),
            # no title → whole record skipped, attachments included
            Row(id=1, timestamp=IN_TS, title=None,
                attachments=[Row(data=[
                    Row(media=Row(uri="photos/x.jpg", title=None, description=None,
                                  comments=[Row(author="Maggie Nail",
                                                comment="hidden")]))])]),
            Row(id=2, timestamp=OUT_TS, title="too old", attachments=None),
        ], schema=schema)

    def test_payload_shape(self, spark):
        rows = S.fb_profile_updates_payload(self._updates(spark), CFG).collect()
        kinds = sorted(r.row_kind for r in rows)
        # title-less record fully skipped; bad ext skipped; old skipped
        assert kinds == ["attachment", "profile_update"]
        post = [r for r in rows if r.row_kind == "profile_update"][0]
        assert post.Caption == "{{FIRSTNAME}} updated her profile"
        att = [r for r in rows if r.row_kind == "attachment"][0]
        assert att.Location == "photos/prof.jpg"
        assert att.Post == "media/FB/Post0/Photo_0_0A.jpg"
        # attachment Caption is the POST's cleaned title, not the media's
        assert att.Caption == "{{FIRSTNAME}} updated her profile"
        # ';' separator without space (smparsers.py:187-188)
        assert att["Friend Comments"] == '"looking good";"nice"'
        assert att["Subject Comments"] == '"update-only comment"'

    def test_rem_comments_includes_profile_updates(self, spark):
        """A subject comment that appears ONLY on a profile-update post
        must still be anti-joined out of fb_comments_payload
        (reference: rem_comments accumulates across both parsers)."""
        posts = spark.createDataFrame([
            Row(id=0, timestamp=IN_TS, title="t", data=None, attachments=None)
        ], schema=("id long, timestamp long, title string, "
                   "data array<struct<post:string>>, "
                   "attachments array<struct<data:array<struct<media:struct<"
                   "uri:string,title:string,description:string,"
                   "comments:array<struct<author:string,comment:string>>>,"
                   "external_context:struct<uri:string>>>>>"))
        rem = S.fb_rem_comments(posts, CFG, profile_updates=self._updates(spark))
        assert sorted(r.comment for r in rem.collect()) == ["update-only comment"]
        comments = spark.createDataFrame([
            Row(timestamp=IN_TS, attachments="url1",
                data=[Row(comment=Row(comment="update-only comment"))]),
            Row(timestamp=IN_TS, attachments="url2",
                data=[Row(comment=Row(comment="fresh"))]),
        ])
        out = S.fb_comments_payload(comments, rem, CFG).collect()
        assert [r.URL for r in out] == ["url2"]
        # 'hidden' came from the title-less record → NOT in rem_comments
        assert "hidden" not in {r.comment for r in rem.collect()}


class TestIG:
    def test_comments_routing_and_blank_drop(self, spark):
        comments = spark.createDataFrame([
            Row(title="Maggie Nail",
                string_list_data=[Row(timestamp=IN_TS, value="my own comment")]),
            Row(title="someone_else",
                string_list_data=[Row(timestamp=IN_TS, value="their comment")]),
            Row(title="someone_else",
                string_list_data=[Row(timestamp=IN_TS, value="megs megs")]),
            Row(title="someone_else",
                string_list_data=[Row(timestamp=OUT_TS, value="too old")]),
        ])
        rows = S.ig_comments_routing(comments, CFG).collect()
        routes = {r.Content: r.route for r in rows}
        assert routes == {
            "my own comment": "own_post",
            "their comment": "other_post",
            "{{ALIAS}} {{ALIAS}}": "other_post",
        }

    def test_posts_media_union(self, spark):
        posts = spark.createDataFrame(
            [Row(id=0, creation_timestamp=IN_TS, title="post cap ",
                 media=[Row(uri="m/a.jpg", title="one", creation_timestamp=None),
                        Row(uri="m/b.png", title="two", creation_timestamp=None),
                        Row(uri="m/c.txt", title="bad", creation_timestamp=None)])],
            schema=("id long, creation_timestamp long, title string, "
                    "media array<struct<uri:string,title:string,"
                    "creation_timestamp:long>>"),
        )
        stories = spark.createDataFrame(
            [Row(uri="s/x.jpeg", creation_timestamp=IN_TS, title="story"),
             Row(uri="s/old.jpeg", creation_timestamp=OUT_TS, title="old")])
        pics = spark.createDataFrame(
            [Row(uri="p/me.png", creation_timestamp=IN_TS, title="me")])
        out = S.ig_posts_media(posts, stories, pics, CFG).collect()
        paths = sorted(r.ImgPath for r in out)
        assert paths == [
            "media/IG/Post0/Photo_0_0A.jpg",
            "media/IG/Post0/Photo_0_0B.png",
            "media/IG/profile/p/me.png",
            "media/IG/stories/s/x.jpeg",
        ]
        a = [r for r in out if r.fp_src == "m/a.jpg"][0]
        assert a.Caption == "post cap one"
        assert a.file_type == ".jpg"


class TestTT:
    def test_profile_redaction(self, spark):
        kv = spark.createDataFrame([
            Row(item="Username", value="maggie.nail"),
            Row(item="Birthdate", value="1999-01-01"),
            Row(item="Email Address", value="m@x.io"),
            Row(item="Bio", value="hi i am Maggie"),
        ])
        out = {r["Profile Item"]: r.Value for r in
               S.tt_profile_payload(kv, CFG).collect()}
        assert out["Birthdate"] == "{{BIRTHDAY}}"
        assert out["Email Address"] == "{{EMAIL}}"
        assert out["Bio"] == "hi i am {{FIRSTNAME}}"

    def test_video_browsing_flags(self, spark):
        browsing = spark.createDataFrame([
            Row(Date="2021-12-20 10:00:00", **{"Video Link": "v1"}),
            Row(Date="2021-12-20 11:00:00", **{"Video Link": "v2"}),
            Row(Date="2017-01-01 10:00:00", **{"Video Link": "v3"}),
        ])
        favorites = spark.createDataFrame([Row(Date="x", **{"Video Link": "v1"})])
        likes = spark.createDataFrame([Row(Date="x", **{"Video Link": "v2"})])
        rows = S.tt_video_browsing(browsing, favorites, likes, CFG).collect()
        assert len(rows) == 2  # v3 outside window
        flags = {r.Date: (r.Liked, r.Favorite) for r in rows}
        assert flags["2021-12-20 10:00:00"] == ("", "Yes")
        assert flags["2021-12-20 11:00:00"] == ("Yes", "")
        assert all(r["Video Link"] == "{{URL}}" for r in rows)

    def test_user_videos(self, spark):
        videos = spark.createDataFrame([
            Row(Date="2021-12-20 10:00:00",
                **{"Video Link": "https://tt/v1", "Like(s)": "12"}),
            Row(Date="2017-01-01 10:00:00",
                **{"Video Link": "https://tt/v2", "Like(s)": "3"}),
        ])
        rows = S.tt_user_videos(videos, CFG).collect()
        assert len(rows) == 1
        assert rows[0]["Video Link"] == "{{URL}}"
        assert rows[0]["Like(s)"] == "12"  # passthrough, untouched
        assert rows[0].Date == "2021-12-20 10:00:00"

    def test_likes_payload(self, spark):
        """parse_user_likes (smparsers.py:413-423): in-window rows keep
        their Date; every link becomes {{URL}}."""
        likes = spark.createDataFrame([
            Row(Date="2021-12-20 10:00:00", **{"Video Link": "https://tt/v1"}),
            Row(Date="2017-01-01 10:00:00", **{"Video Link": "https://tt/v2"}),
            Row(Date="2022-03-24 00:00:00", **{"Video Link": "https://tt/v3"}),
        ])
        rows = S.tt_likes_payload(likes, CFG).collect()
        assert sorted((r.Date, r["Video Link"]) for r in rows) == [
            ("2021-12-20 10:00:00", "{{URL}}"),
            ("2022-03-24 00:00:00", "{{URL}}"),
        ]

    def test_comments_payload(self, spark):
        """parse_comments_from_others (smparsers.py:458-469): in-window
        comments keep their Date and are clean_text-scrubbed."""
        comments = spark.createDataFrame([
            Row(Date="2021-12-20 10:00:00", Comment="hi i am Maggie"),
            Row(Date="2021-12-21 10:00:00", Comment="megs megs"),
            Row(Date="2017-01-01 10:00:00", Comment="too old"),
        ])
        rows = S.tt_comments_payload(comments, CFG).collect()
        assert sorted((r.Date, r.Comment) for r in rows) == [
            ("2021-12-20 10:00:00", "hi i am {{FIRSTNAME}}"),
            ("2021-12-21 10:00:00", "{{ALIAS}} {{ALIAS}}"),
        ]

    def test_follow_counts(self, spark):
        f1 = spark.createDataFrame([Row(Date="2021-12-20 10:00:00", Username="a"),
                                    Row(Date="2017-01-01 10:00:00", Username="b")])
        f2 = spark.createDataFrame([Row(Date="2021-12-21 10:00:00", Username="c")])
        r = S.tt_follow_counts(f1, f2, CFG).collect()[0]
        assert (r.Followers, r.Following) == (1, 1)


class TestSC:
    def test_friends_counts(self, spark):
        m = spark.createDataFrame([
            Row(metric="Friends", items=["a", "b", "c"]),
            Row(metric="Blocked", items=["x"]),
        ])
        out = {r.Metric: r.Count for r in S.sc_friends_counts(m).collect()}
        assert out == {"Friends": 3, "Blocked": 1}

    def test_views_dynamic_pivot(self, spark):
        v = spark.createDataFrame([
            Row(viewer="alice", view_date="2021-12-20 10:00:00", media_type="STORY"),
            Row(viewer="alice", view_date="2021-12-20 11:00:00", media_type=""),
            Row(viewer="bob", view_date="2021-12-20 12:00:00", media_type="VIDEO"),
            Row(viewer="bob", view_date="2017-01-01 12:00:00", media_type="VIDEO"),
        ])
        out = {r.Viewer: r.asDict() for r in S.sc_views(v, CFG).collect()}
        assert out["alice"]["STORY"] == 1 and out["alice"]["OTHER"] == 1
        assert out["bob"]["VIDEO"] == 1  # second view outside window

    def test_time_spent_split(self, spark):
        b = spark.createDataFrame([Row(entry="Chat: 40%"), Row(entry="Stories: 60%")])
        out = {r.Category: r.Value for r in S.sc_time_spent(b).collect()}
        assert out == {"Chat": "40%", "Stories": "60%"}

    def test_interaction_types_zip(self, spark):
        def side(vals):
            return spark.createDataFrame(
                [Row(_ord=i, value=v) for i, v in enumerate(vals)])
        out = S.sc_interaction_types(
            side(["sports", "music", "art"]), side(["chan1"]),
            side(["pub1", "pub2"]), side(["cats"]),
        ).orderBy("rn").collect()
        assert len(out) == 3
        assert out[0]["Profile Interest Category"] == "sports"
        assert out[0]["Discover Channel"] == "chan1"
        assert out[2]["Profile Interest Category"] == "art"
        assert out[2]["Discover Channel"] == ""  # zip_longest fill
        assert out[1]["Subscription"] == "pub2"
