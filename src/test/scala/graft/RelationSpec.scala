package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Relation

/** Relations-JSON parse/validate parity
  * (reference util/RelationHelper.java:89-127 + broken fixture). */
class RelationSpec extends AnyFunSuite {
  import ReferenceFixtures.forEachRoot

  test("all three sample relation files parse with expected shapes") {
    forEachRoot { root =>
      val playlist = Relation.parseFile(s"$root/relations.sample.json").head
      assert(playlist.denormalizedName.contains("DenormalizedPlaylist"))
      assert(playlist.children.map(_.entity) ==
        Seq("user", "playlist_tag", "playlist_custom_params", "playlist_media"))
      assert(playlist.entities.size == 7)
      val player = Relation.parseFile(s"$root/relations2.sample.json").head
      assert(player.children.map(_.entity) == Seq("user"))
      val media = Relation.parseFile(s"$root/relations3.sample.json").head
      assert(media.entities == Seq("media", "user", "playlist_media", "playlist"))
    }
  }

  test("parseUri reads any Hadoop-filesystem scheme (file:// here)") {
    forEachRoot { root =>
      // same bytes through the Hadoop FileSystem registry — the code
      // path a cluster uses for s3a://bucket/relations.json
      val viaUri = Relation.parseUri(s"file://$root/relations.sample.json").head
      assert(viaUri == Relation.parseFile(s"$root/relations.sample.json").head)
      // bare (schemeless) paths resolve against the local filesystem
      val bare = Relation.parseUri(s"$root/relations2.sample.json").head
      assert(bare.denormalizedName.contains("DenormalizedPlayer"))
    }
  }

  test("broken relations fixture is rejected") {
    forEachRoot { root =>
      assertThrows[IllegalArgumentException] {
        Relation.parseFile(s"$root/broken_relations.sample.json")
      }
    }
  }

  test("child without join key is rejected") {
    assertThrows[IllegalArgumentException] {
      Relation.parseJson(
        """[{"DenormalizedName":"X","Entity":"a","Children":[{"Entity":"b"}]}]""")
    }
  }
}
